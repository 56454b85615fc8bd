package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Business key of the dimension. */
final case class Key(id: Long, stock: String)

/** One source row of the daily feed (the TEST `account_src` shape).
  * Times are epoch milliseconds.
  */
final case class SrcRow(id: Long, stock: String, units: Long, platform: String,
    regTs: Long, lastModTs: Long) {
  def key: Key = Key(id, stock)
}

/** One dimension row as the checks compare it: the business columns,
  * the status, the validity interval (`effTo` None while current) and
  * the warehouse load times.
  */
final case class DimRow(id: Long, stock: String, units: Long, platform: String,
    status: String, effFrom: Long, effTo: Option[Long], dwIns: Long, dwUpd: Long) {
  def key: Key = Key(id, stock)
}

/** Plain-Scala model of the hybrid SCD1 + SCD2 rules, built from the
  * generated batches alone: for each incoming row of a key,
  *
  *  - no current row: insert it, effective from `reg_ts`;
  *  - `units` (the SCD2 column) differs: close the current row at the
  *    incoming `last_modify_ts` and insert the new version, effective
  *    from that same instant;
  *  - only `platform` (an SCD1 column) differs: update the current row
  *    in place, keeping its validity interval and surrogate key;
  *  - otherwise: an exact duplicate, no change.
  *
  * Each key maps to its version chain, oldest first, current last.
  */
final case class ScdModel(chains: Map[Key, Vector[DimRow]]) {

  def apply(batch: Seq[SrcRow], clockMs: Long): ScdModel = {
    require(batch.map(_.key).distinct.size == batch.size, "one row per key per batch")
    ScdModel(batch.foldLeft(chains) { (acc, r) =>
      val fresh = DimRow(r.id, r.stock, r.units, r.platform, "A", r.lastModTs, None,
        clockMs, clockMs)
      acc.get(r.key) match {
        case None => acc.updated(r.key, Vector(fresh.copy(effFrom = r.regTs)))
        case Some(chain) =>
          val cur = chain.last
          if (cur.units != r.units)
            acc.updated(r.key, chain.init :+
              cur.copy(status = "I", effTo = Some(r.lastModTs), dwUpd = clockMs) :+ fresh)
          else if (cur.platform != r.platform)
            acc.updated(r.key, chain.init :+ cur.copy(platform = r.platform, dwUpd = clockMs))
          else acc
      }
    })
  }

  def rows: Vector[DimRow] = chains.valuesIterator.flatten.toVector
  def active: Vector[DimRow] = chains.valuesIterator.map(_.last).toVector
  def current(k: Key): Option[DimRow] = chains.get(k).map(_.last)
}

object ScdModel {
  val empty: ScdModel = ScdModel(Map.empty)

  private def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** `sha2(concat_ws("", units, id, stock_name), 256)` of the reference. */
  def scdKey(r: DimRow): String = sha256Hex(s"${r.units}${r.id}${r.stock}")

  /** `sha2(concat_ws("", id, stock_name, platform), 256)` of the reference. */
  def updKey(r: DimRow): String = sha256Hex(s"${r.id}${r.stock}${r.platform}")
}

/** Raised when an output of the program disagrees with the model. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def that(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  /** Equal as multisets; the message names a few differing elements. */
  def sameMultiset[T](what: String, got: Seq[T], want: Seq[T]): Unit = {
    val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
    val w = want.groupBy(identity).map { case (k, v) => k -> v.size }
    if (g != w) {
      val extra = g.filter { case (k, n) => w.getOrElse(k, 0) < n }.keys.take(3)
      val missing = w.filter { case (k, n) => g.getOrElse(k, 0) < n }.keys.take(3)
      throw new CheckFailed(s"$what: ${got.size} rows vs ${want.size} expected; " +
        s"unexpected ${extra.mkString("; ")}; missing ${missing.mkString("; ")}")
    }
  }

  /** Table-wide rules every SCD table state must satisfy, given the
    * full table as (row, surrogate key, scd_key, upd_key).
    */
  def scdInvariants(table: Seq[(DimRow, Long, String, String)], identityStart: Long): Unit = {
    table.foreach { case (r, _, sk, uk) =>
      that(sk == ScdModel.scdKey(r), s"scd_key of $r is $sk, expected ${ScdModel.scdKey(r)}")
      that(uk == ScdModel.updKey(r), s"upd_key of $r is $uk, expected ${ScdModel.updKey(r)}")
    }
    val sks = table.map(_._2)
    that(sks.distinct.size == sks.size, "surrogate keys are not unique")
    that(sks.forall(_ >= identityStart), s"a surrogate key is below $identityStart")
    table.map(_._1).groupBy(_.key).foreach { case (k, rows) =>
      val chain = rows.sortBy(_.effFrom)
      that(chain.count(r => r.status == "A" && r.effTo.isEmpty) == 1,
        s"$k has ${chain.count(_.status == "A")} active rows")
      that(chain.last.status == "A" && chain.last.effTo.isEmpty, s"$k: newest row is not active")
      chain.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
        that(a.status == "I" && a.effTo.contains(b.effFrom),
          s"$k: effective_to ${a.effTo} of a closed row != effective_from ${b.effFrom} of the next")
      }
    }
  }
}
