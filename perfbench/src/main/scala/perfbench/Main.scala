package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--commit <id>]`. Prints one line with the run's full
  * detail (environment, quartiles, sample counts), then, as the last line,
  * the result: `correct`, `attempted`, `failed` and `metrics`. Exits
  * non-zero when an operation failed or an answer check did not hold. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workload.named(opts.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload; expected one of ${Workload.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = opts("seed").toLong
    val trace = opts("trace") == "1"
    val work = opts("work")
    val k = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // the work of a run is fixed per workload; --seconds is its nominal
    // length, recorded with the result
    val seconds = opts("seconds").toInt
    val run = new Run(spark, wl, seed, work)
    val error = try {
      run.setup()
      // set-up counts from JVM start: session start, generation, trainer sample
      val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
      if (trace) run.traced(s"$work/spans.jsonl")
      else {
        run.metrics("setup_s") = Metric.one(setupS, "s")
        run.measure()
      }
      None
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        Some(t)
    }
    val finite = run.metrics.values.forall(m => !m.value.isNaN && !m.value.isInfinite)
    val correct = error.isEmpty && run.failed == 0 && finite

    def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def obj(kv: Seq[(String, String)]): String = kv.map { case (a, b) => s"${str(a)}:$b" }.mkString("{", ",", "}")
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val env = Seq(
      "nproc" -> k.toString,
      "master" -> str(spark.sparkContext.master),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "physical_ram_bytes" -> os.getTotalMemorySize.toString,
      "java" -> str(System.getProperty("java.version")),
      "scala" -> str(scala.util.Properties.versionNumberString),
      "spark" -> str(spark.version),
      "commit" -> str(opts.getOrElse("commit", "unknown")),
      "seed" -> seed.toString,
      "seconds" -> seconds.toString)
    val detail = run.metrics.toSeq.map { case (n, m) =>
      n -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit), "n" -> m.n.toString,
        "p25" -> num(m.p25), "p75" -> num(m.p75)))
    }
    println(obj(Seq("perfbench" -> obj(Seq(
      "workload" -> str(wl.name), "trace" -> (if (trace) "1" else "0"), "env" -> obj(env),
      "notes" -> obj(run.notes.toSeq.map { case (a, b) => a -> str(b) }),
      "metrics" -> obj(detail))))))
    println(obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> run.attempted.toString,
      "failed" -> (run.failed + (if (error.isDefined && run.failed == 0) 1 else 0)).toString,
      "metrics" -> obj(run.metrics.toSeq.map { case (n, m) =>
        n -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))
      }))))
    System.err.println(s"[perfbench] result printed at ${System.currentTimeMillis() - jvmStart} ms")
    spark.stop()
    System.err.println(s"[perfbench] stopped at ${System.currentTimeMillis() - jvmStart} ms")
    sys.exit(if (correct) 0 else 1)
  }
}
