package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * All reads go through here so filters/projections written on top of
  * these DataFrames are pushed into the parquet scan by Catalyst.
  */
object Tables {
  /** Analyzed-DataFrame cache, per session. spark.read re-lists the
    * directory and re-reads footers on every call — pure driver-side
    * metadata overhead that any engine amortizes (DuckDB keeps it in
    * its catalog views). Cuts ~70ms/query off repeated query
    * construction; invisible to plan shape or execution.
    *
    * Weak keys alone would never collect (a cached DataFrame strongly
    * references its own SparkSession through QueryExecution — the
    * classic WeakHashMap value→key pitfall), so the VALUE is a
    * SoftReference: it survives ordinary GC (real caching) but is
    * collectable under memory pressure, and once a session is
    * otherwise unreachable the whole chain can go; a collected cache
    * map just means one ~70ms re-read.
    *
    * The cached plan pins the file listing: call clearCache() if a
    * table directory is REWRITTEN within one session's lifetime (the
    * driver testdata is read-only, so this never triggers there).
    */
  private val cache = new java.util.WeakHashMap[
    SparkSession,
    java.lang.ref.SoftReference[java.util.concurrent.ConcurrentHashMap[String, DataFrame]]]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = cache.synchronized {
      val existing = Option(cache.get(spark)).flatMap(r => Option(r.get))
      existing.getOrElse {
        val fresh = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        cache.put(spark, new java.lang.ref.SoftReference(fresh))
        fresh
      }
    }
    perSession.computeIfAbsent(s"$dir/$name.parquet", p => spark.read.parquet(p))
  }

  def clearCache(): Unit = cache.synchronized(cache.clear())

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.parquet stores ts as TIMESTAMP(NANOS), which Spark reads as
    * LongType only under spark.sql.legacy.parquet.nanosAsLong (set in all
    * our session builders). Expose a usable microsecond timestamp column
    * `ts` (DuckDB reads the same file natively as TIMESTAMP_NS; truncating
    * to micros keeps both engines' values comparable).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(floor(col("ts") / 1000L).cast("long")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** One verifiable operator: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle
  * query over the same parquet tables. Column names/types must match
  * between the two — the driver sorts columns by name and hash-compares
  * values. `inputs` lists files the query reads that no generator
  * writes; where one is absent, Verify names it instead of running the
  * query.
  */
final case class QueryDef(
    name: String,
    impl: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    bench: Boolean = false,
    inputs: Seq[String] = Nil)

/** The MIINT reference checkout, whose committed fixtures pin golden
  * behaviour (FIXTURES.md §11): the one root for every path into it.
  */
object Reference {
  val Root = "/root/reference"

  /** `Root/rel`. */
  def apply(rel: String): String = s"$Root/$rel"
}

/** The checkout this program runs from: the working directory, which
  * `sbt run` and `sbt test` set to the project root. The one root for
  * the in-repo test fixtures that registered queries read.
  */
object Checkout {
  val Root: String = java.nio.file.Paths.get("").toAbsolutePath.toString

  /** `Root/rel`. */
  def apply(rel: String): String = s"$Root/$rel"
}
