package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamOps

/** Streaming STATE soak: the ByDay monitors' bit-equality laws are
  * spec-proven on small fixtures, but the 100 TB streaming story rests
  * on two claims the specs cannot see — that state is bounded by
  * groups × days-inside-the-lateness-horizon (NOT by history), and
  * that watermark eviction actually removes sealed days from the
  * store. This main drives the RocksDB-backed forms over a large key
  * universe and a multi-day event-time horizon and READS THE STATE
  * STORE METRICS per batch (`lastProgress.stateOperators`:
  * numRowsTotal, numRowsRemoved, stateMemory), then asserts:
  *
  *   1. PLATEAU: once the watermark starts sealing days, state rows
  *      stop growing with history — rows at day D ≈ rows at day
  *      horizon+1, for every later D (growth bound 1.15×: RocksDB
  *      numRowsTotal is exact row count, the slack only absorbs
  *      batch-boundary timing of the timeout sweep);
  *   2. EVICTION: cumulative numRowsRemoved ≥ keys × sealed days —
  *      every sealed (group, day) was physically removed, not merely
  *      stopped-being-emitted;
  *   3. BOUND: peak numRowsTotal ≤ keys × (1 + horizon days + 1 slack
  *      day for the batch straddling the seal).
  *
  * Ops soaked: zscoreStreamByDay (3 longs per open (group, day) — the
  * smallest per-key state) and hllDistinctStreamByDay (2^p register
  * bytes per open (group, day) — the constant-sketch-bytes contract).
  * One batch per event-time day, every group active every day, so
  * without eviction state would reach keys × days and the plateau
  * assertion fails loudly.
  *
  * Usage: runMain graft.StreamSoak [keys] [days] [lateness-days]
  * (defaults 200000 keys × 8 days × 1-day lateness ≈ 1.6 M state
  * creations per op; prints one JSON line with the per-day state-row
  * ladder and peak/final RocksDB memory.)
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val keys = if (args.length > 0) args(0).toInt else 200000
    val days = if (args.length > 1) args(1).toInt else 8
    val horizonDays = if (args.length > 2) args(2).toInt else 1
    // the assertions index rowsByDay(horizonDays + 1) — fail in
    // milliseconds, not after minutes of soak
    require(days >= horizonDays + 2,
      s"need days >= horizonDays + 2 for the plateau/seal assertions, " +
        s"got days=$days horizonDays=$horizonDays")
    val spark = Harness.session(Harness.confs(Harness.cpus(8),
      "spark.sql.adaptive.enabled" -> "false", // streaming: AQE is inert, keep plans stable
      // removedTotal sums numRowsRemoved over recentProgress, which
      // retains only the last N progress reports (default 100 — a
      // >~50-day soak would silently undercount eviction and FAIL the
      // assertion against the engine); retain every batch of the run
      // (2 per day per op, plus slack)
      "spark.sql.streaming.numRecentProgressUpdates" -> (days * 2 + 8).toString))
    StreamOps.withRocksDBStateStore(spark)
    import spark.implicits._

    final case class OpReport(name: String, rowsByDay: Seq[Long],
        removedTotal: Long, peakRows: Long, finalRows: Long,
        peakMemBytes: Long, wallSec: Double)

    /** Drive one op day-by-day; return the state ladder + metrics. ONE
      * loop for every soaked op (a per-op copy of this loop diverged
      * once already — in whether removals were read before or after
      * stop()): the op supplies its MemoryStream, started query, and
      * two row builders; the loop owns the generator and the metric
      * reads.
      *
      * Generator contract: one event per key per day, ts inside epoch
      * day d+1 — plus one max-ts sentinel that drags the watermark to
      * the day's end so the day horizon+1 back seals during this batch,
      * and an empty-ish follow-up batch so the event-time timeout sweep
      * runs against the advanced watermark. Days are 1-ORIGIN
      * deliberately: an event at exactly epoch 0 TIES the engine's
      * initial watermark and the stateful late-row filter drops
      * eventTime <= watermark — at 200 k keys the (k % 86400) offset
      * puts g86400/g172800's only day-0 event at ts 0, silently shaving
      * 2 states off the day-0 ladder (found by this soak's own eviction
      * assertion). Real pipelines never carry epoch-0 event times; the
      * shift keeps the expectation exact instead of special-casing the
      * degenerate boundary. */
    def soak[T](name: String, mem: MemoryStream[T],
        q: org.apache.spark.sql.streaming.StreamingQuery,
        mkRow: (Long, Int) => T, sentinel: Long => T): OpReport = {
      val t0 = System.nanoTime()
      val ladder = (0 until days).map { d =>
        val dayMs = (d + 1).toLong * 86400000L
        val batch = (0 until keys).map(k => mkRow(dayMs, k)) :+ sentinel(dayMs)
        mem.addData(batch: _*)
        q.processAllAvailable()
        mem.addData(sentinel(dayMs))
        q.processAllAvailable()
        val so = q.lastProgress.stateOperators
        (so.map(_.numRowsTotal).sum, so.map(_.memoryUsedBytes).sum)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      // numRowsRemoved is per-batch; sum the retained progress reports
      // BEFORE stop() (numRecentProgressUpdates is sized above to
      // retain every batch of this run)
      val removed = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      q.stop()
      OpReport(name, ladder.map(_._1), removed,
        ladder.map(_._1).max, ladder.last._1, ladder.map(_._2).max, wall)
    }

    def checkpoint(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"soak-$tag").toString

    val zscore = {
      val mem = MemoryStream[StreamOps.TimedValue](spark, 1)
      val q = StreamOps.zscoreStreamByDay(spark, mem.toDS(), s"$horizonDays day")
        .writeStream.format("noop")
        .option("checkpointLocation", checkpoint("z"))
        .outputMode("append").start()
      soak[StreamOps.TimedValue]("zscore_by_day", mem, q,
        (dayMs, k) => StreamOps.TimedValue(s"g$k",
          new java.sql.Timestamp(dayMs + (k % 86400) * 1000L),
          java.lang.Long.valueOf((k % 97).toLong)),
        dayMs => StreamOps.TimedValue("g0",
          new java.sql.Timestamp(dayMs + 86399999L), java.lang.Long.valueOf(1L)))
    }

    val hll = {
      val mem = MemoryStream[StreamOps.TimedItem](spark, 1)
      val q = StreamOps.hllDistinctStreamByDay(spark, mem.toDS(), s"$horizonDays day", p = 9)
        .writeStream.format("noop")
        .option("checkpointLocation", checkpoint("h"))
        .outputMode("append").start()
      soak[StreamOps.TimedItem]("hll_by_day", mem, q,
        (dayMs, k) => StreamOps.TimedItem(s"g$k",
          new java.sql.Timestamp(dayMs + (k % 86400) * 1000L), s"item${k % 31}"),
        dayMs => StreamOps.TimedItem("g0",
          new java.sql.Timestamp(dayMs + 86399999L), "item0"))
    }

    // ---- assertions: plateau, eviction, bound ----
    val reports = Seq(zscore, hll)
    val settleDay = horizonDays + 1 // first day whose batch seals a prior day
    var failed = false
    reports.foreach { r =>
      val settled = r.rowsByDay(settleDay)
      val plateauOk = r.rowsByDay.drop(settleDay).forall(_ <= (settled * 1.15).toLong + 1)
      val sealedDays = (days - 1 - horizonDays).max(0)
      val evictOk = r.removedTotal >= keys.toLong * sealedDays
      val boundOk = r.peakRows <= keys.toLong * (horizonDays + 2)
      if (!(plateauOk && evictOk && boundOk)) failed = true
      System.err.println(s"[soak] ${r.name}: rowsByDay=${r.rowsByDay.mkString(",")} " +
        s"removed=${r.removedTotal} peak=${r.peakRows} final=${r.finalRows} " +
        s"peakMemMB=${r.peakMemBytes / 1024 / 1024} wall=${f"${r.wallSec}%.1f"}s " +
        s"plateau=$plateauOk evict=$evictOk bound=$boundOk")
    }
    val line = reports.map { r =>
      s""""${r.name}":{"rows_by_day":[${r.rowsByDay.mkString(",")}],""" +
        s""""removed":${r.removedTotal},"peak_rows":${r.peakRows},""" +
        s""""final_rows":${r.finalRows},"peak_mem_mb":${r.peakMemBytes / 1024 / 1024},""" +
        s""""wall_sec":${Harness.num(r.wallSec, 1)}}"""
    }.mkString(s"""{"metric":"stream_soak","keys":$keys,"days":$days,""" +
      s""""horizon_days":$horizonDays,"ok":${!failed},"ops":{""", ",", "}}")
    spark.stop()
    println(line)
    if (failed) sys.exit(1)
  }
}
