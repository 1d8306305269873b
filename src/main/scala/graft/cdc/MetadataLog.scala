package graft.cdc

import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

/** A driver-side log of small JSON entries, one file per (key, batchId) —
  * the commit protocol of Spark's own streaming offset and commit logs
  * (`HDFSMetadataLog` over `CheckpointFileManager`). [[CursorStore]] and
  * [[graft.streaming.SinkStats]] both keep their entries here:
  *
  * {{{
  *   <root>/<escaped key>/<batchId>.json
  * }}}
  *
  * The key is escaped into one directory name (every byte outside
  * `[A-Za-z0-9-]` becomes `~xx`), so keys such as `moduleHash#table` are
  * safe. An entry is written under a hidden temp name and renamed into place
  * (`createAtomic`): the rename is the commit point, and a crash before it
  * leaves only a hidden temp file, which readers skip. Names starting with
  * `.` or `_` (temp files, checksums) are never entries.
  *
  * Only a missing directory reads as empty. Any other I/O error, a corrupt
  * entry, or a root that holds plain files (such as the `part-*.parquet`
  * files of a parquet log) throws.
  */
private[graft] final class MetadataLog(root: String, conf: Configuration) {

  private val rootPath = new Path(root)
  private lazy val fm = CheckpointFileManager.create(rootPath, conf)

  private def dir(key: String) = new Path(rootPath, MetadataLog.escape(key))
  private def file(key: String, batchId: Long) = new Path(dir(key), s"$batchId.json")

  /** Visible children of `p`; None when `p` does not exist. */
  private def list(p: Path): Option[Seq[FileStatus]] =
    try Some(fm.list(p).toSeq.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith(".") || n.startsWith("_")
    })
    catch { case _: FileNotFoundException => None }

  /** Every key; None when nothing was ever written. */
  def keys(): Option[Seq[String]] = list(rootPath).map(_.map { s =>
    if (!s.isDirectory) throw new IllegalStateException(
      s"$root is not a per-commit metadata log: it holds the file ${s.getPath}")
    MetadataLog.unescape(s.getPath.getName)
  })

  /** The batchIds committed under `key`, unordered. A missing key is empty
    * only in a well-formed log.
    */
  def batches(key: String): Seq[Long] = list(dir(key)) match {
    case Some(entries) => entries.map(_.getPath).map { p =>
      p.getName match {
        case MetadataLog.Entry(b) => b.toLong
        case _ => throw new IllegalStateException(s"$p is not a metadata-log entry")
      }
    }
    case None => keys(); Nil
  }

  def get[T](key: String, batchId: Long, cls: Class[T]): T = {
    val p = file(key, batchId)
    val in = fm.open(p)
    try MetadataLog.json.readValue(in.readAllBytes(), cls)
    catch { case e: Exception => throw new IllegalStateException(s"corrupt entry $p", e) }
    finally in.close()
  }

  /** Write `value` as the (key, batchId) entry. Without `overwrite` an
    * existing entry wins and the call is a no-op (a replayed commit); with
    * it, the new entry replaces the old one in a single rename.
    */
  def put(key: String, batchId: Long, value: AnyRef, overwrite: Boolean): Unit = {
    val p = file(key, batchId)
    if (!overwrite && fm.exists(p)) return
    fm.mkdirs(p.getParent)
    val out = fm.createAtomic(p, overwrite)
    try { out.write(MetadataLog.json.writeValueAsBytes(value)); out.close() }
    catch {
      case _: FileAlreadyExistsException => out.cancel() // a concurrent first commit won
      case e: Throwable => out.cancel(); throw e
    }
  }

  /** Delete every entry of `key`; returns how many there were. */
  def delete(key: String): Long = {
    val n = batches(key).size
    fm.delete(dir(key))
    n.toLong
  }

  /** Delete the whole log; returns how many entries it held. */
  def deleteAll(): Long = {
    val n = keys().getOrElse(Nil).map(batches(_).size).sum
    fm.delete(rootPath)
    n.toLong
  }

  /** Keep only each key's newest `keepLast` entries (by batchId), deleting
    * the older files one by one — a crash at any point leaves every kept
    * entry in place. Returns how many were deleted.
    */
  def compact(keepLast: Int): Long =
    keys().getOrElse(Nil).map { k =>
      val old = batches(k).sorted.reverse.drop(keepLast)
      old.foreach(b => fm.delete(file(k, b)))
      old.size.toLong
    }.sum
}

private[graft] object MetadataLog {

  private val Entry = """(\d+)\.json""".r

  private val json = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .enable(DeserializationFeature.FAIL_ON_NULL_FOR_PRIMITIVES)
    .build()

  /** A key as one directory name: `[A-Za-z0-9-]` kept, every other byte `~xx`. */
  def escape(key: String): String = key.getBytes(UTF_8).map { b =>
    val c = b.toChar
    if (c.isLetterOrDigit && c < 128 || c == '-') c.toString else f"~${b & 0xff}%02x"
  }.mkString

  def unescape(name: String): String = new String(
    "~(..)|(.)".r.findAllMatchIn(name).map { m =>
      if (m.group(1) != null) Integer.parseInt(m.group(1), 16).toByte else m.group(2).head.toByte
    }.toArray, UTF_8)
}
