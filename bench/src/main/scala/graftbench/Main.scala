package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.graftbench.ListenerDrain
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods

/** Benchmark JVM: sets up one workload, runs its closed loop and writes
  * raw op records (and, when traced, spans, per-op Spark metrics and
  * per-layer measurements) as JSON for `bench/run.py` to summarise.
  *
  * Arguments (all required except the dataset directories a workload
  * does not read): --workload --seed --seconds --trace 0|1 --cores
  * --work <scratch dir> --out <result json>
  * --data-miint --data-corpus --data-tpch <generated input dirs>.
  */
object Main {
  val Workloads = Seq("miint_file_queries", "tpch_serving", "corpus_curation")
  val WarmPasses = 2

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val work = o("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val metrics = if (traced) Some(new SparkMetrics) else None
    def make(s: SparkSession, name: String): Workload = name match {
      case "miint_file_queries" => new MiintFileQueries(s, o("data-miint"), work, cores)
      case "tpch_serving" => new TpchServing(s, o("data-tpch"), cores)
      case "corpus_curation" => new CorpusCuration(s, o("data-corpus"), work)
    }

    // set-up = session, prebuilt indexes and warm-up passes over every
    // kind, timed from JVM start. After one pass the JIT is still far
    // from steady (the next round ran a quarter slower than the one
    // after it), so set-up makes two.
    def sinceStart() = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = session(cores, work)
    val w = make(spark, workload)
    val runner = new Runner(spark, metrics)
    val sessionS = sinceStart()
    w.setup()
    val indexesS = sinceStart()
    val warmOps = Seq.fill(WarmPasses)(runner.pass(w, if (w.shuffled) cores else 1, traced = false)).flatten
    val setupS = sinceStart()
    log(f"set-up: session $sessionS%.2f s, indexes ${indexesS - sessionS}%.2f s, warm-up ${setupS - indexesS}%.2f s")
    metrics.foreach(spark.sparkContext.addSparkListener)

    val loopStart = System.nanoTime()
    // a traced run alternates untraced and traced runs of each kind,
    // two rounds at least, so every kind runs both ways: the traced runs
    // give the per-layer figures, the comparison the tracing overhead
    val ops = runner.loop(w, seed, seconds, alternate = traced, minRounds = math.max(w.minRounds, if (traced) 2 else 1))
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "clients" -> w.clients,
      "setup_s" -> setupS,
      "setup_phases_s" -> Map("session" -> sessionS, "indexes" -> (indexesS - sessionS), "warm_up" -> (setupS - indexesS)),
      "loop_start_ns" -> loopStart,
      "warm_ops" -> warmOps.map(_.toJson), "ops" -> ops.map(_.toJson))
    def oracles(w: Workload): Unit = w match {
      case t: TpchServing => result("oracle_sql") = t.oracleSignatureSql()
      case _ =>
    }
    oracles(w)
    if (traced) {
      // one traced pass over every op kind of the other workloads, so
      // every per-layer metric exists in every traced run (this
      // workload's kinds ran traced in the loop); each is set up and
      // warmed by one untraced pass first, one rather than set-up's two
      // so that a traced run stays within its time limit
      val others = Workloads.filter(_ != workload).flatMap { name =>
        val ow = make(spark, name)
        ow.setup()
        oracles(ow)
        runner.pass(ow, if (ow.shuffled) cores else 1, traced = false)
        runner.pass(ow, ow.clients, traced = true)
      }
      val layers = Layers.measure(spark, o("data-miint"), o("data-corpus"))
      ListenerDrain(spark.sparkContext)
      result("trace") = Map(
        "other_ops" -> others.map(_.toJson),
        "spans" -> Trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
        "spark" -> metrics.get.snapshot.map { case (k, v) => k.toString -> v },
        "layers" -> layers)
    }
    result("peak_rss_mb") = peakRssMb()
    val json = JsonMethods.compact(Extraction.decompose(result.toMap)(DefaultFormats))
    Files.write(Paths.get(o("out")), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** VmHWM: the JVM's peak resident set, in MiB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toLong / 1024.0
  }
}
