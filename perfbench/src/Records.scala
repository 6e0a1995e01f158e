package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark's result files: written and read with json4s, so a
  * pretty-printed record reads back exactly like a compact one. */
object Records {
  def write(path: String, v: JValue): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, JsonMethods.pretty(JsonMethods.render(v)).getBytes(StandardCharsets.UTF_8))
  }

  def read(path: String): JValue =
    JsonMethods.parse(new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8))

  def compact(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))

  /** A metric value as measured; NaN and infinities have no JSON form. */
  def num(x: Double): JValue = if (x.isNaN || x.isInfinite) JNull else JDouble(x)

  /** A metric block: name -> {value, unit}. */
  def metrics(ms: Seq[(String, Double, String)]): JObject =
    JObject(ms.toList.map { case (n, v, u) => n -> JObject("value" -> num(v), "unit" -> JString(u)) })

  /** The metric names and units BENCHMARK.json declares under `key`. */
  def declared(benchmarkJson: String, key: String): Seq[(String, String)] = {
    implicit val formats: Formats = DefaultFormats
    (read(benchmarkJson) \ key).children.map(m => ((m \ "name").extract[String], (m \ "unit").extract[String]))
  }

  /** Where and on what a run ran. The checkout the benchmark runs in need
    * not be a git repository; the source digest identifies the build then. */
  def provenance(cores: Int, loadStart: Double, loadEnd: Double, sparkVersion: String, traced: Boolean, seed: Long): JObject =
    JObject(
      "cpus" -> JInt(Runtime.getRuntime.availableProcessors),
      "spark_cores" -> JInt(cores),
      "load_avg_start" -> num(loadStart),
      "load_avg_end" -> num(loadEnd),
      "git_commit" -> gitCommit.map(JString(_)).getOrElse(JNull),
      "source_digest" -> JString(sys.props.getOrElse("perfbench.sourceDigest", "")),
      "seed" -> JLong(seed),
      "traced" -> JBool(traced),
      "spark_version" -> JString(sparkVersion),
      "jvm_version" -> JString(System.getProperty("java.vm.version")),
      "jvm_vendor" -> JString(System.getProperty("java.vm.vendor")),
      "os" -> JString(s"${System.getProperty("os.name")} ${System.getProperty("os.version")}"))

  /** HEAD's commit read from `.git` directly; None outside a git checkout. */
  def gitCommit: Option[String] =
    try {
      def text(p: String) = new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8).trim
      val head = text(".git/HEAD")
      if (!head.startsWith("ref: ")) Some(head)
      else {
        val ref = head.stripPrefix("ref: ")
        if (Files.exists(Paths.get(s".git/$ref"))) Some(text(s".git/$ref"))
        else if (Files.exists(Paths.get(".git/packed-refs")))
          text(".git/packed-refs").linesIterator.map(_.split(' ')).collectFirst {
            case Array(sha, r) if r == ref => sha
          }
        else None
      }
    } catch { case _: java.io.IOException => None }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(Double.NaN)
    finally src.close()
  }
}
