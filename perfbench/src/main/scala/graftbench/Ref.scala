package graftbench

import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-independent digest of a row set: row count, the sum of the LWW
  * order column and the sum of a CRC32 per row. Both sides compute it the
  * same way: the reference from its own rows, the program's output
  * through [[Digest.of]].
  */
final case class Digest(rows: Long, seqSum: Long, crcSum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, seqSum + o.seqSum, crcSum + o.crcSum)
  def -(o: Digest): Digest = Digest(rows - o.rows, seqSum - o.seqSum, crcSum - o.crcSum)
}

object Digest {
  val Zero: Digest = Digest(0, 0, 0)

  def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  def row(userId: Long, seq: Long, eventType: String, value: String): Digest =
    Digest(1, seq, crc(s"$userId|$seq|$eventType|$value"))

  /** The same per-row CRC, computed by Spark over a keyed-table frame. */
  val rowCrc: Column = crc32(concat_ws("|", col("user_id").cast("string"),
    col("seq").cast("string"), col("event_type"), col("value")))

  val aggs: Seq[Column] = Seq(count(lit(1)).as("rows"),
    coalesce(sum(col("seq")), lit(0L)).as("seq_sum"),
    coalesce(sum(rowCrc), lit(0L)).as("crc_sum"))

  def of(df: DataFrame): Digest = {
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def byType(df: DataFrame): Map[String, Digest] =
    df.groupBy("event_type").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getString(0) -> Digest(r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  /** Order-independent hash of an arbitrary result frame, for results
    * that are compared with themselves across repetitions.
    */
  def ofAny(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(crc32(to_json(struct(df.columns.map(col): _*)))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** The reference model of a keyed last-write-wins table: a hash map from
  * key to its winning image, fed the same operation sequence as the
  * program. It runs none of the code under test. A tombstone at an order
  * equal to the live image's wins (that is the DELETE WHERE contract: it
  * tombstones each matched row at the row's own order).
  */
final class KeyedModel {
  import KeyedModel.Img

  private val rows = mutable.HashMap.empty[Long, Img]
  private var total = Digest.Zero
  private val perType = mutable.HashMap.empty[String, Digest]
  private val atVersion = mutable.HashMap.empty[Long, Digest]

  private def contribution(k: Long, i: Img): Digest =
    if (i.live) Digest.row(k, i.seq, i.eventType, i.value) else Digest.Zero

  private def put(k: Long, next: Img): Unit = {
    rows.get(k).foreach { old =>
      if (old.live) {
        val d = contribution(k, old)
        total -= d
        perType(old.eventType) = perType(old.eventType) - d
      }
    }
    rows(k) = next
    if (next.live) {
      val d = contribution(k, next)
      total += d
      perType(next.eventType) = perType.getOrElse(next.eventType, Digest.Zero) + d
    }
  }

  def upsert(events: Iterable[Gen.Event], version: Long): Unit =
    events.foreach { e =>
      if (rows.get(e.userId).forall(_.seq < e.seq))
        put(e.userId, Img(e.seq, e.eventType, e.value, live = true, version))
    }

  def delete(keys: Iterable[(Long, Long)], version: Long): Unit =
    keys.foreach { case (k, s) =>
      if (rows.get(k).forall(_.seq <= s)) put(k, Img(s, null, null, live = false, version))
    }

  def deleteWhere(eventType: String, version: Long): Unit =
    rows.toList.foreach { case (k, i) =>
      if (i.live && i.eventType == eventType) put(k, i.copy(live = false, version = version))
    }

  /** Record the state every version up to `version` resolves to. */
  def commit(version: Long): Unit = atVersion(version) = total

  def digest: Digest = total
  def digestAt(version: Long): Option[Digest] = atVersion.get(version)
  def byType: Map[String, Digest] = perType.filter(_._2.rows > 0).toMap

  def lookup(keys: Iterable[Long]): Digest =
    keys.toSet.foldLeft(Digest.Zero) { (acc, k) =>
      rows.get(k).filter(_.live).fold(acc)(i => acc + contribution(k, i))
    }

  /** Rows of the live image written strictly after `from`: what an upsert
    * change feed over (from, head] returns on a table without deletes.
    */
  def changedSince(from: Long): Digest =
    rows.foldLeft(Digest.Zero) { case (acc, (k, i)) =>
      if (i.live && i.version > from) acc + contribution(k, i) else acc
    }
}

object KeyedModel {
  final case class Img(seq: Long, eventType: String, value: String, live: Boolean, version: Long)
}
