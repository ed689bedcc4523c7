package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{StreamOps, TwsOps}

/** Timer-eviction soak for [[TwsOps.sessionizeTws]] — the spec proves
  * the session boundaries on small fixtures; the 100 TB claim is that
  * state is bounded by OPEN sessions (those inside the watermark
  * horizon), not by history, because each session's event-time timer
  * fires once the watermark passes its end, emits it, and removes it
  * from the ListState. This main drives `keys` users × `days` event-time
  * days (one session per user per day) on RocksDB, reads
  * `lastProgress.stateOperators` per day, and asserts:
  *
  *   1. PLATEAU: once the watermark starts sealing days, state rows stop
  *      growing with history (rows at day D ≤ 1.25× rows at day
  *      horizon+2, for every later D — the slack absorbs batch-boundary
  *      timing of the timer sweep and the TWS operator's timer-store
  *      rows);
  *   2. EMISSION: every sealed (user, day) session was emitted exactly
  *      once — emitted count = keys × sealed days (sentinel user
  *      excluded; sealed days computed from the same watermark
  *      arithmetic the engine uses);
  *   3. BOUND: peak state rows ≤ keys × (horizon+2 open days + 1 slack)
  *      × 2 (ListState row + its registered timer row — the TWS
  *      operator reports both stores).
  *
  * Usage: runMain graft.SessionSoak [keys] [days] [horizonDays]
  * (defaults 100000 × 8 × 1 — 800 k sessions through the store, ~7/8
  * of them sealed and evicted by close.)
  */
object SessionSoak {
  def main(args: Array[String]): Unit = {
    val keys = if (args.length > 0) args(0).toInt else 100000
    val days = if (args.length > 1) args(1).toInt else 8
    val horizonDays = if (args.length > 2) args(2).toInt else 1
    require(days >= horizonDays + 3,
      s"need days >= horizonDays + 3 for the plateau window, got days=$days")
    val spark = Harness.session(Harness.confs(Harness.cpus(8),
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.streaming.numRecentProgressUpdates" -> (days * 2 + 8).toString))
    StreamOps.withRocksDBStateStore(spark)
    import spark.implicits._

    // day d (1-origin — the epoch-0 watermark-tie rule) contributes one
    // event per user inside day d, plus a sentinel (user −1) at the
    // day's last microsecond dragging the watermark to the day end
    def dayUs(d: Int): Long = (d + 1).toLong * 86400L * 1000000L
    def batchFor(d: Int): Seq[StreamOps.TypedEvent] =
      (0 until keys).map { k =>
        StreamOps.TypedEvent(d.toLong * keys + k, k.toLong, "e",
          dayUs(d) + (k % 80000).toLong * 1000000L)
      } :+ StreamOps.TypedEvent(-1L - d, -1L, "s", dayUs(d) + 86399L * 1000000L)

    val mem = MemoryStream[StreamOps.TypedEvent](spark, 1)
    val out = TwsOps.sessionizeTws(spark, mem.toDS(), gapSeconds = 600,
      watermark = s"$horizonDays day")
    val outDir = java.nio.file.Files.createTempDirectory("sess-soak-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sess-soak-ckpt").toString
    val q = out.writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val t0 = System.nanoTime()
    val ladder = (0 until days).map { d =>
      mem.addData(batchFor(d): _*)
      q.processAllAvailable()
      // empty follow-up batch so the timer sweep runs against the
      // watermark the data batch just advanced (the StreamSoak rule)
      mem.addData(StreamOps.TypedEvent(-1000L - d, -1L, "s",
        dayUs(d) + 86399L * 1000000L))
      q.processAllAvailable()
      val so = q.lastProgress.stateOperators
      (so.map(_.numRowsTotal).sum, so.map(_.memoryUsedBytes).sum)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    q.stop()

    // total AND distinct (user, session_start): equal totals alone
    // would let a double-emit cancel a missed emission — "exactly
    // once each" needs the distinct count to match the total too
    val emittedRows = spark.read.parquet(outDir).where($"user_id" >= 0)
    val emitted = emittedRows.count()
    val emittedDistinct = emittedRows
      .select($"user_id", $"session_start_us").distinct().count()
    spark.stop()

    // a user's day-d session ends ≤ 80,599 s into day d (event offset
    // < 80,000 s + 600 s gap); day d+horizon's sentinel sits at
    // 86,399 s into ITS day, so wm = that − horizon·86,400 s lands
    // 86,399 s into day d — past every session end. Day d therefore
    // seals when day d+horizon processes: sealedDays = days − horizon.
    val sealedDays = (days - horizonDays).max(0)
    val expectedEmitted = keys.toLong * sealedDays
    val settleDay = horizonDays + 2
    val settled = ladder(settleDay)._1
    val plateauOk = ladder.drop(settleDay).forall(_._1 <= (settled * 1.25).toLong + 1)
    val emitOk = emitted == expectedEmitted && emittedDistinct == emitted
    val peak = ladder.map(_._1).max
    val boundOk = peak <= keys.toLong * (horizonDays + 3) * 2
    val ok = plateauOk && emitOk && boundOk
    System.err.println(s"[sess-soak] rowsByDay=${ladder.map(_._1).mkString(",")} " +
      s"emitted=$emitted distinct=$emittedDistinct expected=$expectedEmitted peak=$peak " +
      s"plateau=$plateauOk emit=$emitOk bound=$boundOk wall=${f"$wall%.1f"}s")
    println(s"""{"metric":"session_soak","keys":$keys,"days":$days,""" +
      s""""horizon_days":$horizonDays,"rows_by_day":[${ladder.map(_._1).mkString(",")}],""" +
      s""""emitted":$emitted,"expected_emitted":$expectedEmitted,""" +
      s""""peak_rows":$peak,"wall_sec":${Harness.num(wall, 1)},"ok":$ok}""")
    if (!ok) sys.exit(1)
  }
}
