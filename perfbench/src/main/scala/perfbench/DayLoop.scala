package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Caches, Compactor, CorpusPipeline, IncrementalPipeline}

/** `day_loop`: the composed production day, one client, over a
  * documents corpus. Bootstrap curates the base half; then each day
  *   (a) lands its slice as ~50 small parquet files,
  *   (b) `Compactor.optimizeParquet` loads it into a `date=` partition,
  *   (c) `Compactor.maintainLake` runs,
  *   (d) `IncrementalPipeline.runIncremental` curates the slice,
  *   (e) a closed loop of `Compactor.readPrunedEq` point lookups runs
  *       over the whole history.
  * Days run until the measuring time is up (at least `min_days`). Each
  * day writes its curated output; after the last day `CorpusPipeline.run`
  * over everything ingested is written too, for the row-equality check.
  */
object DayLoop {
  import Main._

  private val TargetBytes = 128L * 1024 * 1024
  private val bench = col("doc_id") % 101 === 0

  def run(ctx: Ctx): Map[String, Any] = {
    implicit val spark = ctx.spark
    val t = ctx.tracer
    val failures = mutable.ArrayBuffer.empty[String]
    val lake = ctx.str("lake")
    val state = ctx.str("state")
    val days = ctx.list("days").map(_.asInstanceOf[Map[String, Any]])

    def docsAt(dir: String): DataFrame =
      spark.read.parquet(dir).select(col("doc_id"), col("text"))
    // a slice lands: its small files appear under incoming/ in one rename
    def land(staging: String, date: String): String = {
      val in = Paths.get(ctx.str("incoming"), s"date=$date")
      Files.createDirectories(in.getParent)
      Files.move(Paths.get(staging), in)
      in.toString
    }

    // untimed set-up, which also warms the JVM: the base half lands and
    // is loaded and maintained like any day
    val w0 = System.nanoTime()
    val baseDate = ctx.str("base_date")
    Compactor.optimizeParquet(land(ctx.str("base_dir"), baseDate), s"$lake/date=$baseDate",
      TargetBytes)
    Compactor.maintainLake(lake, TargetBytes, Seq("doc_id")).collect()
    val warmupS = since(w0)

    val budget = ctx.num("budget")
    val t0 = System.nanoTime()
    val startUs = Tracer.nowUs()
    val (_, bootstrap) = t.timed("incremental_pipeline.bootstrap") {
      IncrementalPipeline.bootstrap(state, docsAt(s"$lake/date=$baseDate"), bench,
        IncrementalPipeline.Params(budget)).queryExecution.toRdd.count()
    }

    var lastOut: Option[String] = None
    val dayRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val minDays = ctx.num("min_days")
    val dayIter = days.iterator
    while (dayIter.hasNext && (dayRecs.size < minDays || since(t0) < ctx.seconds)) {
      val d = dayIter.next()
      val date = d("date").toString
      Caches.release()
      val rec = mutable.LinkedHashMap[String, Any]("date" -> date)
      val lookups = mutable.ArrayBuffer.empty[Map[String, Any]]
      val (_, day) = t.timed("day_loop.day") {
        attempt(failures, s"day $date: load") {
          val in = land(d("staging").toString, date)
          t.span("compactor.optimize") {
            Compactor.optimizeParquet(in, s"$lake/date=$date", TargetBytes)
          }
        }
        attempt(failures, s"day $date: maintain") {
          val rows = t.span("compactor.maintain") {
            Compactor.maintainLake(lake, TargetBytes, Seq("doc_id")).collect()
          }
          rec("partitions") = rows.length
          rec("rewritten") = rows.filter(_.getBoolean(1)).map(_.getString(0)).toSeq
        }
        // the day's curated output is written out, as a deployment would
        attempt(failures, s"day $date: curate") {
          t.span("incremental_pipeline.day") {
            IncrementalPipeline.runIncremental(state, docsAt(s"$lake/date=$date"), bench)
              .write.parquet(s"${ctx.str("check_dir")}/curated-$date")
          }
          lastOut = Some(s"${ctx.str("check_dir")}/curated-$date")
        }
        d("lookups").asInstanceOf[Seq[Any]].foreach { v =>
          val id = v.toString.toLong
          val (rows, c) = t.timed("compactor.lookup") {
            attempt(failures, s"day $date: lookup $id") {
              Compactor.readPrunedEq(lake, Seq(("doc_id", lit(id))))
                .filter(col("doc_id") === id).count()
            }
          }
          lookups += (c.fields("") ++ Seq("id" -> id, "rows" -> rows.getOrElse(-1L))).toMap
        }
      }
      rec ++= day.fields("day_") ++ Seq("lookups" -> lookups.toSeq,
        "cache_live" -> Caches.liveCount, "heap_mb" -> retainedHeapMb())
      if (t.enabled) attempt(failures, s"day $date: pruning ratio") {
        val id = lookups.head("id").asInstanceOf[Long]
        val touched = Compactor.readPrunedEq(lake, Seq(("doc_id", lit(id)))).inputFiles.length
        rec("files_touched_ratio") = touched.toDouble / spark.read.parquet(lake).inputFiles.length
      }
      dayRecs += rec.toMap
    }
    val endUs = Tracer.nowUs()

    // the check compares the last curated output with the monolithic
    // pipeline over everything ingested
    attempt(failures, "monolithic pipeline") {
      t.span("corpus_pipeline.run") {
        CorpusPipeline.run(docsAt(lake), benchPred = bench, budgetPerStratum = budget,
          nShards = 64).out.write.parquet(s"${ctx.str("check_dir")}/monolithic")
      }
    }
    Map("days" -> dayRecs.toSeq, "bootstrap_s" -> bootstrap.wall,
      "bootstrap_cpu_s" -> bootstrap.cpu, "last_curated" -> lastOut.orNull,
      "failures" -> failures.toSeq, "warmup_s" -> warmupS,
      "measure_start_us" -> startUs, "measure_end_us" -> endUs)
  }
}
