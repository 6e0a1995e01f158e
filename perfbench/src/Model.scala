package perfbench

/** Plain-Scala reference for everything the benchmark checks. None of it
  * calls the program: UPC-12 synthesis, the check digit, validation and the
  * lowest-name dedup rule are written out here from their definitions, so a
  * table the program lands can be compared against an independent answer.
  */
object Model {

  /** One `part` row as the loader reads it. `name` and `price` may be null. */
  final case class Part(partkey: Long, name: String, brand: String, price: java.lang.Double)

  /** One landed product row; `loaded_at` is left out because it is a clock. */
  final case class Product(upc: String, name: String, brand: String, price: Double)

  /** The 11-digit body: the partkey, zero-padded. */
  def upcBody(partkey: Long): String = {
    val s = partkey.toString
    if (s.length >= 11) s.substring(0, 11) else "0" * (11 - s.length) + s
  }

  /** UPC-A check digit: odd positions (1-based) weigh 3, even ones 1. */
  def checkDigit(body: String): Int = {
    val w = body.indices.map(i => (body.charAt(i) - '0') * (if (i % 2 == 0) 3 else 1)).sum
    (10 - w % 10) % 10
  }

  def upc(partkey: Long): String = {
    val b = upcBody(partkey)
    b + checkDigit(b)
  }

  /** The full 12-digit test: length, digits only, weighted sum divisible by 10. */
  def validUpc(upc: String): Boolean =
    upc != null && upc.length == 12 && upc.forall(c => c >= '0' && c <= '9') && {
      val w = upc.indices.map(i => (upc.charAt(i) - '0') * (if (i % 2 == 0) 3 else 1)).sum
      w % 10 == 0
    }

  /** SQL `trim` strips spaces only, unlike `String.trim`. */
  private def blank(name: String): Boolean = name == null || name.forall(_ == ' ')

  def valid(upc: String, p: Part): Boolean =
    validUpc(upc) && p.price != null && p.price > 0 && !blank(p.name)

  /** validate, then keep the lowest name per UPC. Names never tie in the
    * generated inputs, so the winner is unique. */
  def load(parts: Seq[Part]): Map[String, Product] =
    parts.iterator
      .map(p => (upc(p.partkey), p))
      .filter { case (u, p) => valid(u, p) }
      .toSeq
      .groupBy(_._1)
      .map { case (u, rows) =>
        val p = rows.map(_._2).minBy(_.name)
        u -> Product(u, p.name, p.brand, p.price.doubleValue)
      }

  /** Counts the pipeline layer reports: rows in, valid, quarantined, deduped. */
  def counts(parts: Seq[Part]): (Long, Long, Long, Long) = {
    val nValid = parts.count(p => valid(upc(p.partkey), p)).toLong
    (parts.size.toLong, nValid, parts.size - nValid, load(parts).size.toLong)
  }

  /** The keyed upsert: new rows replace same-key rows and nothing is deleted. */
  def upsert(table: Map[String, Product], rows: Map[String, Product]): Map[String, Product] =
    table ++ rows

  /** Rows of `actual` that differ from `expected`, as readable lines (empty
    * when the tables are equal). */
  def diff(expected: Map[String, Product], actual: Seq[Product], limit: Int = 5): Seq[String] = {
    val byKey = actual.groupBy(_.upc)
    val dupKeys = byKey.collect { case (k, rs) if rs.size > 1 => s"duplicate key $k" }
    val missing = expected.keys.filterNot(byKey.contains).map(k => s"missing $k")
    val extra = byKey.keys.filterNot(expected.contains).map(k => s"unexpected $k")
    val changed = byKey.collect {
      case (k, rs) if expected.get(k).exists(_ != rs.head) => s"differs $k: ${rs.head} vs ${expected(k)}"
    }
    (dupKeys ++ missing ++ extra ++ changed).take(limit).toSeq
  }

  /** One snapshot-table row. */
  final case class SRow(upc: String, name: String, price: Double, epoch: Long)

  /** The snapshot table as a multiset of rows: appends add rows (a key may
    * repeat), an upsert removes every row of each source key and adds the
    * source rows. */
  def append(state: Vector[SRow], batch: Seq[SRow]): Vector[SRow] = state ++ batch

  def upsertRows(state: Vector[SRow], batch: Seq[SRow]): Vector[SRow] = {
    val keys = batch.map(_.upc).toSet
    state.filterNot(r => keys(r.upc)) ++ batch
  }

  def sorted(rows: Seq[SRow]): Seq[SRow] = rows.sortBy(r => (r.upc, r.epoch, r.name, r.price))
}
