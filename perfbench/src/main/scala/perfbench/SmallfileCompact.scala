package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.api.{LakeCollector, LakeFlusher}
import graft.operators.{Caches, CompactionConfig, FlushConfig}

/** `smallfile_compact`: lakeflush's own job over a tree of tiny JSON
  * files, one client, one step after another. A cycle is
  *   1. a full parquet bundle pass (`LakeCollector.collect`),
  *   2. one `collectIncremental` per delta, each after the delta's hour
  *      directory lands in the tree,
  *   3. one `collectIncremental` with nothing new,
  *   4. a gzip text-bundle pass drained by `LakeFlusher` into the
  *      `year/month/day` lake.
  * Cycles repeat into fresh output directories until the measuring
  * time is up; the deltas move back out of the tree after each cycle so
  * every cycle starts from the same input.
  */
object SmallfileCompact {
  import Main._

  def run(ctx: Ctx): Map[String, Any] = {
    val failures = mutable.ArrayBuffer.empty[String]
    // untimed warm-up over a small tree of its own: the parquet passes
    // carry almost all of a fresh JVM's class loading and JIT (a cold
    // full pass over 100 files takes longer than a warm one over 1000);
    // its outputs are not checked
    val w0 = System.nanoTime()
    cycle(ctx, new Tracer(ctx.spark.sparkContext, false), ctx.str("warm_tree"),
      deltasOf(ctx, "warm_deltas"), s"${ctx.str("out_base")}/warm", mutable.Buffer.empty,
      parquetOnly = true)
    val warmupS = since(w0)

    val t0 = System.nanoTime()
    val startUs = Tracer.nowUs()
    val cycles = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (cycles.isEmpty || since(t0) < ctx.seconds)
      cycles += cycle(ctx, ctx.tracer, ctx.str("tree"), deltasOf(ctx, "deltas"),
        s"${ctx.str("out_base")}/cycle${cycles.size}", failures)
    Map("cycles" -> cycles.toSeq, "failures" -> failures.toSeq,
      "measure_start_us" -> startUs, "measure_end_us" -> Tracer.nowUs(),
      "warmup_s" -> warmupS)
  }

  private def deltasOf(ctx: Ctx, key: String): Seq[Map[String, Any]] =
    ctx.list(key).map(_.asInstanceOf[Map[String, Any]])

  private def cycle(ctx: Ctx, t: Tracer, tree: String, deltas: Seq[Map[String, Any]],
                    base: String, failures: mutable.Buffer[String],
                    parquetOnly: Boolean = false): Map[String, Any] = {
    implicit val spark = ctx.spark
    val target = ctx.num("target_bytes")
    def landed(d: Map[String, Any]) = Paths.get(tree, d("rel").toString)
    def staged(d: Map[String, Any]) = Paths.get(d("staging").toString, d("rel").toString)
    def move(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      Files.createDirectories(to.getParent)
      Files.move(from, to)
    }
    // the manifest is the pass's answer: (files bundled, bundles)
    def summary(mf: DataFrame): (Long, Long) = {
      val r = mf.agg(coalesce(sum(col("n_records")), lit(0L)), count(lit(1))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }

    val cycle = mutable.LinkedHashMap[String, Any](
      "bundles_dir" -> s"$base/bundles", "text_dir" -> s"$base/text",
      "lake_dir" -> s"$base/lake")
    t.span("smallfile_compact.cycle") {
      val parquet = new LakeCollector(spark,
        CompactionConfig(tree, s"$base/bundles", target))
      attempt(failures, "full pass") {
        val ((files, bundles), c) = t.timed("compactor.full")(summary(parquet.collect()))
        cycle ++= c.fields("full_") ++ Seq("full_files" -> files, "full_bundles" -> bundles)
      }
      cycle("incremental") = deltas.flatMap { d =>
        move(staged(d), landed(d))
        attempt(failures, s"incremental pass ${d("rel")}") {
          val ((files, _), c) = t.timed("compactor.incremental") {
            t.attr("new_files", d("n_files").toString.toDouble)
            summary(parquet.collectIncremental())
          }
          (c.fields("") ++ Seq("files" -> files, "expected" -> d("n_files"))).toMap
        }
      }
      if (!parquetOnly) attempt(failures, "no-op pass") {
        val ((files, _), c) = t.timed("compactor.noop")(summary(parquet.collectIncremental()))
        cycle ++= c.fields("noop_") :+ ("noop_files" -> files)
      }
      if (!parquetOnly) attempt(failures, "text pass and flush") {
        val text = new LakeCollector(spark,
          CompactionConfig(tree, s"$base/text", target, codec = Some("gzip")))
        val ((files, bundles), textC) = t.timed("compactor.text")(summary(text.collect()))
        val (_, drainC) = t.timed("flush_stream.drain") {
          val flusher = new LakeFlusher(spark,
            FlushConfig(s"$base/text", s"$base/lake", s"$base/checkpoint"))
          try flusher.start(Trigger.AvailableNow()).awaitTermination()
          finally flusher.stop()
        }
        cycle ++= textC.fields("text_") ++ drainC.fields("drain_") ++
          Seq("text_files" -> files, "text_bundles" -> bundles)
      }
    }
    cycle("cache_live") = Caches.liveCount
    Caches.release()
    cycle("heap_mb") = retainedHeapMb()
    deltas.reverse.foreach(d => move(landed(d), staged(d)))
    cycle.toMap
  }
}
