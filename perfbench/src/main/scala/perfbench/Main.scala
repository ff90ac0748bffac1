package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM half of the benchmark. `run.py` generates the inputs, lays out
  * `<work>/params.json` and starts this main; it runs one workload
  * against the library's public entry points and writes
  * `<work>/result.json` (timings, check artifacts, spans, jobs). All
  * metrics and output checks are computed by `run.py` from that file.
  *
  * Usage: perfbench.Main --workload <name> --work <dir> --seconds <s>
  *        --trace <0|1> --cores <n>
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Ctx(spark: SparkSession, tracer: Tracer, work: String,
                       params: Map[String, Any], seconds: Double) {
    def str(k: String): String = params(k).toString
    def num(k: String): Long = params(k).toString.toDouble.toLong
    def list(k: String): Seq[Any] = params(k).asInstanceOf[Seq[Any]]
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = opts("work")
    val cores = opts("cores").toInt
    val trace = opts("trace") == "1"
    val params = mapper.readValue(new File(work, "params.json"), classOf[Map[String, Any]])

    // same confs as graft.Bench, sized to this host; scratch dirs stay
    // inside the work directory
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val jobLog = if (trace) Some(new JobLog) else None
    jobLog.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, new Tracer(spark.sparkContext, trace), work, params,
      opts("seconds").toDouble)

    val out: Map[String, Any] = opts("workload") match {
      case "smallfile_compact" => SmallfileCompact.run(ctx)
      case "day_loop" => DayLoop.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    jobLog.foreach(_.drain())

    val result = out ++ Map(
      "session_start_s" -> sessionStartS,
      "spans" -> ctx.tracer.recorded.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "thread" -> s.thread, "start_us" -> s.startUs, "end_us" -> s.endUs,
          "attrs" -> s.attrs.toMap)
      },
      "jobs" -> jobLog.map(_.recorded).getOrElse(Nil).map { j =>
        Map("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "tasks" -> j.tasks, "exec_run_ms" -> j.execRunMs,
          "shuffle_bytes" -> j.shuffleBytes, "records_read" -> j.recordsRead,
          "ok" -> j.ok)
      })
    mapper.writeValue(new File(work, "result.json"), result)
    spark.stop()
  }

  /** Driver heap still in use after a full collection, in MB: what the
    * driver keeps alive. Taken after each measured cycle or day (the
    * collection itself is not timed); raw used heap would mostly measure
    * when the collector last ran. */
  def retainedHeapMb(): Double = {
    // a second collection frees what the first left to finalizers and
    // reference processing
    System.gc()
    System.runFinalization()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds since `t0` (a System.nanoTime stamp). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `f`, recording a failure instead of propagating it. */
  def attempt[T](failures: collection.mutable.Buffer[String], what: String)
                (f: => T): Option[T] =
    try Some(f)
    catch { case e: Throwable =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
      None
    }
}
