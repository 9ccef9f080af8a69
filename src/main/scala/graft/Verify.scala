package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: only run queries whose name starts with it
    // (local iteration aid; the driver always passes two args)
    val (sfDir, outDir, nameFilter) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, f) => (a, b, Some(f))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [namePrefix]")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
      // read as LongType (nanos since epoch), Tables.events converts.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val inputs = SparkEntry.allQueryDefs.map(q => q.name -> q.inputs).toMap
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(name.startsWith) }
      .foreach { case (name, fn) =>
      val absent = inputs(name).find(p => !Files.exists(Paths.get(p)))
      absent.foreach(p => System.err.println(s"[verify] $name input absent: $p"))
      // repartition(1), NOT coalesce(1): coalesce collapses every
      // narrow-dependency ancestor into the single output task, so a
      // map-only query (e.g. per-doc shingling) runs its WHOLE corpus
      // computation single-threaded — a sf0.1 sweep straggler burned
      // 15 min of one core exactly this way. repartition keeps the
      // upstream plan at its natural parallelism (identical to how
      // Bench/production run it) and only shuffles the compare-sized
      // result into one file.
      val t0 = System.nanoTime()
      if (absent.isEmpty) try {
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
        val secs = (System.nanoTime() - t0) / 1e9
        // per-query timing on stderr: makes sweep stragglers
        // attributable without jstack archaeology
        if (secs >= 10) System.err.println(f"[verify] $name slow: $secs%.1f s")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Round-2 lesson (ADVICE r2, high): the driver keys correctness rows
    // by output-dir basename INCLUDING the '.parquet' suffix, while our
    // keys are bare names — every oracle lookup missed. Emit BOTH keys
    // (bare + '<name>.parquet'); the duplication is harmless and makes
    // the lookup hit regardless of which basename convention is used.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
