package graftbench

import graft.cdc.ProtoWire
import graft.cdc.ProtoWire.{OpCode, PField, PTableChange}
import org.apache.spark.sql.types._

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** The synced table every sink workload writes: one pk plus four typed
  * fields, all sent as strings and typed by the target schema.
  */
object SyncedTable {
  val Name = "accounts"
  val schema: StructType = StructType(Seq(
    StructField("amount", DoubleType),
    StructField("qty", LongType),
    StructField("label", StringType),
    StructField("ts", TimestampType)))
  val fields: Seq[String] = schema.fieldNames.toSeq

  /** A row as the sink should hold it: the typed field values, with the
    * timestamp in epoch microseconds.
    */
  final case class Typed(amount: Double, qty: Long, label: String, tsMicros: Long)

  private val Epoch = "^\\d+$".r

  /** The reference's `normalizeValueType` for this schema, as
    * `graft.cdc.TypeNormalizer` specifies it: digits are epoch seconds,
    * anything else is timestamp text.
    */
  def typed(f: Map[String, String]): Typed = {
    val ts = f("ts")
    val micros =
      if (Epoch.matches(ts)) ts.toLong * 1000000L
      else {
        val i = Instant.parse(ts)
        i.getEpochSecond * 1000000L + i.getNano / 1000
      }
    Typed(f("amount").toDouble, f("qty").toLong, f("label"), micros)
  }
}

/** Pure-Scala model of the reference loader's rules (`db/ops.go`): a
  * pending op per pk, merged until the flush applies it to the table.
  * An illegal call throws, as the reference returns an error.
  */
final class OpsModel {
  val rows = mutable.HashMap.empty[String, Map[String, String]]
  private val pending = mutable.LinkedHashMap.empty[String, (Int, Map[String, String])]

  def insert(pk: String, f: Map[String, String]): Unit = {
    require(!pending.contains(pk), s"insert of $pk, already scheduled")
    pending(pk) = (OpCode.Create, f)
  }

  def update(pk: String, f: Map[String, String]): Unit = pending.get(pk) match {
    case Some((OpCode.Delete, _)) =>
      throw new IllegalArgumentException(s"update of $pk, scheduled for deletion")
    case Some((op, g)) => pending(pk) = (op, g ++ f)
    case None => pending(pk) = (OpCode.Update, f)
  }

  def delete(pk: String): Unit = pending(pk) = (OpCode.Delete, Map.empty)

  /** The flush: INSERT writes the row, UPDATE sets the given fields of an
    * existing row (none: no row changes), DELETE removes it.
    */
  def flush(): Unit = {
    pending.foreach {
      case (pk, (OpCode.Create, f)) => rows(pk) = f
      case (pk, (OpCode.Update, f)) => rows.get(pk).foreach(r => rows(pk) = r ++ f)
      case (pk, _) => rows.remove(pk)
    }
    pending.clear()
  }
}

/** Seeded generator of encoded `DatabaseChanges` blocks. It emits only
  * sequences the reference accepts: INSERT on a pk's first touch or after
  * a DELETE flushed earlier, UPDATE of a live pk, DELETE of a live pk, no
  * op on a pk whose DELETE is still pending, and distinct ordinals within a
  * block. Every emitted op is applied to `model`.
  *
  * Keys are Zipf(1)-ranked over `keySpace` ranks (rank 1 hottest); a
  * seeded hash turns a rank into its pk string.
  */
final class FeedGen(seed: Long, keySpace: Int, deleteShare: Double) {
  private val rnd = new java.util.SplittableRandom(seed)
  val model = new OpsModel
  private val live = mutable.HashSet.empty[String]
  private val pendingDelete = mutable.HashSet.empty[String]
  private val isoText = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)

  def pkOf(rank: Long): String = {
    var z = rank * 0x9E3779B97F4A7C15L ^ seed
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    "pk" + java.lang.Long.toHexString(z ^ (z >>> 31))
  }

  private def zipfRank(): Long =
    math.min(keySpace.toLong, math.floor(math.exp(rnd.nextDouble() * math.log(keySpace + 1.0))).toLong.max(1L))

  private def fieldValue(name: String): String = name match {
    case "amount" => (rnd.nextLong(0L, 10000000L) / 100.0).toString
    case "qty"    => rnd.nextLong(-1000000L, 1000000000L).toString
    case "label"  => "l" + java.lang.Long.toString(rnd.nextLong(0L, 1L << 40), 36)
    case _ =>
      val s = rnd.nextLong(1500000000L, 1800000000L)
      if (rnd.nextBoolean()) s.toString else isoText.format(Instant.ofEpochSecond(s))
  }

  private def allFields(): Map[String, String] =
    SyncedTable.fields.map(f => f -> fieldValue(f)).toMap

  private def someFields(): Map[String, String] = {
    val picked = SyncedTable.fields.filter(_ => rnd.nextInt(2) == 0)
    val names = if (picked.isEmpty) Seq(SyncedTable.fields(rnd.nextInt(4))) else picked
    names.map(f => f -> fieldValue(f)).toMap
  }

  /** Close the current flush window: the sink has flushed every block
    * generated so far, so the model flushes too.
    */
  def closeWindow(): Unit = { model.flush(); pendingDelete.clear() }

  private def change(pk: String, ordinal: Long): Option[PTableChange] =
    if (pendingDelete.contains(pk)) None
    else if (!live.contains(pk)) {
      val f = allFields()
      model.insert(pk, f); live += pk
      Some(PTableChange(SyncedTable.Name, pk, ordinal, OpCode.Create, toFields(f)))
    } else if (rnd.nextDouble() < deleteShare) {
      model.delete(pk); live -= pk; pendingDelete += pk
      Some(PTableChange(SyncedTable.Name, pk, ordinal, OpCode.Delete, Nil))
    } else {
      val f = someFields()
      model.update(pk, f)
      Some(PTableChange(SyncedTable.Name, pk, ordinal, OpCode.Update, toFields(f)))
    }

  private def toFields(f: Map[String, String]): Seq[PField] =
    f.toSeq.sortBy(_._1).map { case (k, v) => PField(k, v) }

  /** One block of `n` changes on Zipf-drawn pks; a pk whose DELETE is
    * pending is drawn again. Returns (changes, payload).
    */
  def block(n: Int): (Int, Array[Byte]) = {
    val out = (1 to n).flatMap { ordinal =>
      var pk = pkOf(zipfRank())
      var tries = 0
      while (pendingDelete.contains(pk) && tries < 16) { pk = pkOf(zipfRank()); tries += 1 }
      change(pk, ordinal.toLong)
    }
    (out.size, ProtoWire.encodeDatabaseChanges(out))
  }

  /** One block touching exactly `pks`, in order (first touch inserts). */
  def blockOf(pks: Seq[String]): (Int, Array[Byte]) = {
    val out = pks.zipWithIndex.flatMap { case (pk, i) => change(pk, i.toLong + 1) }
    (out.size, ProtoWire.encodeDatabaseChanges(out))
  }

  def nextInt(lo: Int, hi: Int): Int = rnd.nextInt(lo, hi)
}
