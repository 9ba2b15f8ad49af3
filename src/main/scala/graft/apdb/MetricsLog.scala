package graft.apdb

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.sql.Timestamp

import graft.EstateFs

/** Per-visit metric emission in the reference's log format
  * (`_logging.py:47-49` line shape + `metrics.md` vocabulary): lines of
  * `<ts> [INFO] ap_proto: apdb_metrics: {json}` appended to
  * `<warehouse>/metrics.log`, so the engine's own LogTool / LogAnalytics
  * pipeline consumes the engine's own runs — closing the reference's
  * produce→scrape→aggregate loop.
  *
  * Durability posture by warehouse scheme (VERDICT r11 #3 — the
  * java.nio form was the last warehouse-rooted local-POSIX writer and
  * broke construction against an HDFS/S3 warehouse):
  *  - `file`: per-line java.nio append, durable line by line across a
  *    killed run (the reference's behavior; append re-opens so no
  *    stream is held).
  *  - everything else: ONE Hadoop output stream held for the run,
  *    opened in APPEND mode ([[EstateFs.appendStream]]) so successive
  *    runs accumulate like the reference and the local posture do
  *    (ADVICE r12 — the old create-overwrite stream wiped prior runs'
  *    lines exactly on HDFS deployments); `hflush` after every line —
  *    on HDFS each line is visible/durable as it lands. Stores without
  *    append support (S3A) fall back to a per-run file
  *    `metrics.<startMs>.log`, whose lines land at [[close]] — scrape
  *    with a glob there. A constructed-but-never-emitting log touches
  *    nothing: the stream is opened lazily on first emit and
  *    [[close]] only closes a stream that was actually opened.
  *    Callers own the close; [[graft.ApSim]] closes at end of run.
  */
final class MetricsLog(dir: String) extends AutoCloseable {
  private val target = s"$dir/metrics.log"
  private val local = EstateFs.schemeOf(dir) == "file"
  private val localPath =
    if (local) {
      val raw = if (target.startsWith("file:"))
        new java.net.URI(target).getPath else target
      val p = Paths.get(raw)
      Files.createDirectories(p.getParent)
      p
    } else null
  @volatile private var opened = false
  private lazy val out: org.apache.hadoop.fs.FSDataOutputStream = {
    EstateFs.mkdirs(dir)
    val s =
      try EstateFs.appendStream(target)
      catch {
        case _: UnsupportedOperationException =>
          EstateFs.createStream(s"$dir/metrics.${System.currentTimeMillis}.log")
      }
    opened = true
    s
  }

  private def fmtTs(t: Timestamp): String = {
    val ms = t.getTime
    val base = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    base.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f"${base.format(new java.util.Date(ms))},${ms % 1000}%03d"
  }

  private def emit(visitTime: Timestamp, name: String, visit: Int,
      table: String, values: String): Unit = {
    val line =
      s"${fmtTs(visitTime)} [INFO] ap_proto: apdb_metrics: " +
        s"""{"name": "$name", "timestamp": ${"%.3f".formatLocal(java.util.Locale.US, visitTime.getTime / 1000.0)}, """ +
        s""""tags": {"visit": "$visit", "table": "$table", "tile": "0"}, """ +
        s""""values": $values, "source": "ap_proto"}""" + "\n"
    // one line at a time on BOTH paths: store()'s wave emits its
    // per-table insert_time timers from concurrent threads, and an
    // unsynchronized append may interleave two lines' bytes
    synchronized {
      if (local)
        Files.writeString(localPath, line, StandardOpenOption.CREATE,
          StandardOpenOption.APPEND): Unit
      else {
        out.write(line.getBytes("UTF-8"))
        out.hflush()
      }
    }
  }

  def timer(visitTime: Timestamp, name: String, visit: Int, table: String,
      realSec: Double): Unit =
    emit(visitTime, name, visit, table,
      s"""{"real": $realSec, "user": 0.0, "sys": 0.0}""")

  def counts(visitTime: Timestamp, name: String, visit: Int, table: String,
      rows: Long): Unit =
    emit(visitTime, name, visit, table, s"""{"row_count": $rows}""")

  /** Generic value-map record (the reference's read_counts /
    * store_counts / select_query_stats shapes, `metrics.md:15-45`). */
  def record(visitTime: Timestamp, name: String, visit: Int, table: String,
      kv: Seq[(String, Double)]): Unit =
    emit(visitTime, name, visit, table,
      kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))

  /** No-op on the local posture (nothing held open) and on a log that
    * never emitted (the lazy stream is never forced, so an idle log
    * can't truncate or even touch the file); flushes and closes the
    * run's stream elsewhere. Idempotent. */
  def close(): Unit =
    if (!local && opened) synchronized {
      try out.close() catch { case _: java.io.IOException => }
    }
}
