package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.streaming.{StreamOps, TwsOps}

/** transformWithState STATE-ACCESS soak — the scale claim behind
  * TwsOps.firstSeenStream is that MapState costs O(batch) point
  * lookups/writes per micro-batch regardless of accumulated state,
  * where a (flat)mapGroupsWithState seen-set costs O(state): the whole
  * blob deserializes, mutates on-heap, and re-serializes every batch a
  * key is touched. The spec proves bit-equality on small fixtures;
  * this main drives BOTH formulations over a growing state (default 20
  * batches × 10 000 novel items across 4 groups → 200 000 state
  * entries) on the RocksDB backend and reports the per-batch wall-time
  * ladder of each.
  *
  * Expected shape: the TWS ladder stays flat as state grows (each batch
  * touches 20 000 items whatever the map holds); the mGWS ladder grows
  * with accumulated state (batch b re-serializes ~b × 10 000 entries).
  * Assertions: (1) correctness — both emit exactly the novel set;
  * (2) the comparative claim — mGWS late/early growth strictly exceeds
  * TWS growth, and TWS growth stays under a generous 4× (timing on a
  * shared box is noisy; the CLAIM is the contrast, not absolute ms).
  *
  * Usage: runMain graft.TwsSoak [batches] [newPerBatch] — prints one
  * JSON line with both ladders and growth factors.
  */
object TwsSoak {
  def main(args: Array[String]): Unit = {
    val batches = if (args.length > 0) args(0).toInt else 20
    val newPerBatch = if (args.length > 1) args(1).toInt else 10000
    // early window = batches 3..5, late = last 3: DISJOINT needs >= 9
    // (at 8 they would share batch 5 and self-correlate the growth ratio)
    require(batches >= 9, s"need >= 9 batches for disjoint early/late windows, got $batches")
    val spark = Harness.session(Harness.confs(Harness.cpus(8),
      "spark.sql.adaptive.enabled" -> "false"))
    StreamOps.withRocksDBStateStore(spark)
    import spark.implicits._

    val nGroups = 4
    // batch b: newPerBatch novel items + newPerBatch repeats of batch
    // b−1 (so the dedup decision is exercised both ways every batch)
    def batchRows(b: Int): Seq[StreamOps.KeyedItem] = {
      val novel = (0 until newPerBatch).map { i =>
        val id = b.toLong * newPerBatch + i
        StreamOps.KeyedItem(s"g${id % nGroups}", s"item$id")
      }
      val repeats = if (b == 0) Seq.empty else (0 until newPerBatch).map { i =>
        val id = (b - 1).toLong * newPerBatch + i
        StreamOps.KeyedItem(s"g${id % nGroups}", s"item$id")
      }
      novel ++ repeats
    }

    /** Drive a started query batch-by-batch; return per-batch seconds. */
    def ladderOf(mem: MemoryStream[StreamOps.KeyedItem],
        q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Double] = {
      val lad = (0 until batches).map { b =>
        val t0 = System.nanoTime()
        mem.addData(batchRows(b): _*)
        q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }
      q.stop()
      lad
    }

    def ckpt(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"tws-soak-$tag").toString

    // --- TWS MapState form (the library op) ---
    val twsOut = java.nio.file.Files.createTempDirectory("tws-soak-out").toString
    val twsLadder = {
      val mem = MemoryStream[StreamOps.KeyedItem](spark, 1)
      val q = TwsOps.firstSeenStream(spark, mem.toDS())
        .writeStream.format("parquet").option("path", twsOut)
        .option("checkpointLocation", ckpt("map")).outputMode("append").start()
      ladderOf(mem, q)
    }
    val twsEmitted = spark.read.parquet(twsOut).count()

    // --- mGWS whole-blob comparator (harness-local: the formulation the
    // library deliberately does NOT ship — state is ONE serialized array
    // per group, rewritten on every touched batch) ---
    val mgwsOut = java.nio.file.Files.createTempDirectory("mgws-soak-out").toString
    val mgwsLadder = {
      val mem = MemoryStream[StreamOps.KeyedItem](spark, 1)
      val deduped = mem.toDS().groupByKey(_.group)
        .flatMapGroupsWithState[Array[String], TwsOps.FirstSeen](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (key, rows, state: org.apache.spark.sql.streaming.GroupState[Array[String]]) =>
            val seen = scala.collection.mutable.HashSet.empty[String]
            state.getOption.foreach(a => seen ++= a)
            val out = Vector.newBuilder[TwsOps.FirstSeen]
            rows.foreach { r =>
              if (r.item != null && seen.add(r.item)) out += TwsOps.FirstSeen(key, r.item)
            }
            state.update(seen.toArray) // the O(state) rewrite, every batch
            out.result().iterator
        }
      val q = deduped.writeStream.format("parquet").option("path", mgwsOut)
        .option("checkpointLocation", ckpt("blob")).outputMode("append").start()
      ladderOf(mem, q)
    }
    val mgwsEmitted = spark.read.parquet(mgwsOut).count()
    spark.stop()

    val expected = batches.toLong * newPerBatch
    def growth(l: Seq[Double]): Double = {
      // skip the first 3 batches (JIT/codegen warmup); early = next 3,
      // late = last 3
      val early = l.slice(3, 6).sum / 3
      val late = l.takeRight(3).sum / 3
      late / early
    }
    val (gT, gM) = (growth(twsLadder), growth(mgwsLadder))
    val okCorrect = twsEmitted == expected && mgwsEmitted == expected
    val okContrast = gM > gT && gT < 4.0
    def num(v: Double): String = Harness.num(v, 2)
    System.err.println(s"[tws-soak] tws=${twsLadder.map(num).mkString(",")}")
    System.err.println(s"[tws-soak] mgws=${mgwsLadder.map(num).mkString(",")}")
    System.err.println(s"[tws-soak] growth tws=${num(gT)} mgws=${num(gM)} " +
      s"emitted tws=$twsEmitted mgws=$mgwsEmitted expected=$expected " +
      s"correct=$okCorrect contrast=$okContrast")
    println(s"""{"metric":"tws_soak","batches":$batches,"new_per_batch":$newPerBatch,""" +
      s""""final_state":$expected,"tws_growth":${num(gT)},"mgws_growth":${num(gM)},""" +
      s""""tws_batch_sec":[${twsLadder.map(num).mkString(",")}],""" +
      s""""mgws_batch_sec":[${mgwsLadder.map(num).mkString(",")}],""" +
      s""""ok":${okCorrect && okContrast}}""")
    if (!(okCorrect && okContrast)) sys.exit(1)
  }
}
