package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import java.io.InputStream

/** Shared bits for the file-backed DataSource V2 readers.
  *
  * Mirrors the reference's table-function conventions
  * (reference: src/table_function_common.cpp:64-92): glob expansion
  * with ALPHABETICAL sort (deterministic partition→file mapping), one
  * input partition per file (the Spark scheduler is the work-stealer
  * the reference implements by hand, SURVEY §4.2).
  */
object FileSourceCommon {

  /** Canonical display path for stdin input: `filepath` columns report
    * `/dev/stdin` for either spelling of the stdin token (reference:
    * test/shell/read_fastx_stdin.sh tests 6-7). */
  val StdinPath = "/dev/stdin"

  /** Reference accepts `-` and `/dev/stdin` as stdin designators
    * (reference: src/table_function_common.cpp stdin handling,
    * test/shell/read_*_stdin.sh). */
  def isStdinToken(s: String): Boolean = {
    val t = s.trim
    t == "-" || t == "/dev/stdin" || t == "file:///dev/stdin"
  }

  private val SnapshotPrefix = "graft-stdin-"

  /** Hadoop configuration: the active session's (so `spark.hadoop.*`
    * settings — fs.defaultFS, hadoop.tmp.dir — are honored), falling
    * back to classpath-only config where no session is active (bare
    * driver tools, executors resolving an already-absolute path).
    */
  private def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** The current snapshot, if stdin has been consumed this application.
    * The RESOLVED path (not a re-derivable name) is what expandPaths
    * returns, so it rides inside each source's InputPartition to the
    * executors — they never re-derive it.
    */
  @volatile private var currentSnapshot: Option[Path] = None

  /** Snapshot stdin to the default FS, once per consumption. stdin is
    * a one-shot stream: the first planning consumes it; re-planning
    * (each Spark action re-plans the scan) and task retries re-read
    * the snapshot, which is what makes stdin usable under Spark's
    * execution model at all.
    *
    * The file name carries a fresh UUID (a stale snapshot from a
    * crashed run can never be mistaken for this process's stdin), is
    * created 0600 (stdin may carry sensitive data; the default FS tmp
    * dir is shared), and is removed on JVM exit and on session stop.
    */
  private def snapshotStdin(): Path = synchronized {
    currentSnapshot match {
      case Some(p) => p
      case None =>
        val conf = hadoopConf
        val dir = new Path(conf.get("hadoop.tmp.dir", "/tmp"))
        val p = new Path(dir,
          SnapshotPrefix + java.util.UUID.randomUUID().toString)
        val fs = p.getFileSystem(conf)
        val out = fs.create(p, true)
        try System.in.transferTo(out) finally out.close()
        fs.setPermission(p, new FsPermission(Integer.parseInt("600", 8).toShort))
        fs.deleteOnExit(p)
        org.apache.spark.sql.SparkSession.getActiveSession.foreach {
          _.sparkContext.addSparkListener(
            new org.apache.spark.scheduler.SparkListener {
              override def onApplicationEnd(
                  e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
                try fs.delete(p, false) catch { case _: Exception => () }
            })
        }
        currentSnapshot = Some(p)
        p
    }
  }

  /** Is this path a stdin snapshot this process created? Used by
    * sources to report [[StdinPath]] in `filepath` columns. */
  def displayPath(p: String): String =
    if (new Path(p).getName.startsWith(SnapshotPrefix)) StdinPath else p

  /** Test hook: forget a consumed stdin snapshot so the next read
    * snapshots a fresh (test-injected) System.in. */
  def resetStdinSnapshot(): Unit = synchronized {
    currentSnapshot.foreach { p =>
      val fs = p.getFileSystem(hadoopConf)
      if (fs.exists(p)) fs.delete(p, false)
    }
    currentSnapshot = None
  }

  /** Expand a comma-separated list of paths/globs, sorted per-glob.
    * `allowStdin`: sources the reference reads from stdin (fastx,
    * alignments, sam_sequences, newick) pass true; a stdin token is
    * then snapshotted and the RESOLVED snapshot path returned (it
    * travels to executors inside the InputPartition; display via
    * [[displayPath]]). Mixing stdin with other inputs is an error
    * either way (reference rejects it: "stdin").
    */
  def expandPaths(spec: String, allowStdin: Boolean = false): Seq[String] = {
    val conf = hadoopConf
    val specs = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (specs.exists(isStdinToken)) {
      if (specs.length > 1)
        throw new IllegalArgumentException(
          "stdin cannot be combined with other inputs")
      if (!allowStdin)
        throw new IllegalArgumentException(
          s"stdin is not supported by this source: $spec")
      return Seq(snapshotStdin().toString)
    }
    specs.flatMap { one =>
      val p = new Path(one)
      val fs = p.getFileSystem(conf)
      val matches = Option(fs.globStatus(p)).getOrElse(Array.empty)
      if (matches.isEmpty) {
        if (!fs.exists(p)) throw new IllegalArgumentException(s"No files match: $one")
        Seq(one)
      } else matches.map(_.getPath.toString).sorted.toSeq
    }
  }

  /** Resolve the path spec from DataSource V2 options: single-path
    * load() sets `path`; multi-path load(a, b, …) sets `paths` as a
    * JSON ARRAY (not a comma list). Returns a comma-joined spec for
    * expandPaths.
    */
  def pathSpec(options: Map[String, String], source: String): String =
    options.get("path") match {
      case Some(p) => p
      case None =>
        options.get("paths") match {
          case Some(j) if j.trim.startsWith("[") =>
            import org.json4s.jackson.JsonMethods
            import org.json4s.{DefaultFormats, JArray}
            implicit val formats: DefaultFormats.type = DefaultFormats
            JsonMethods.parse(j).asInstanceOf[JArray].extract[Seq[String]].mkString(",")
          case Some(p) => p
          case None =>
            throw new IllegalArgumentException(s"$source: path option required")
        }
    }

  def openStream(path: String): InputStream = {
    val p = new Path(path)
    p.getFileSystem(hadoopConf).open(p)
  }
}
