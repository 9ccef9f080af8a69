package graft.ops

import graft.kernel.UrlKernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL curation for web corpora: canonicalize URLs, extract the
  * registrable domain, and cap documents per domain — the standard
  * pre-dedup steps of CCNet / RefinedWeb-style pipelines (normalize →
  * URL-level exact dedup → per-domain cap against SEO farms that
  * would otherwise dominate the corpus).
  *
  * Scale shape: normalize/host/domain are row-local (map-only, no
  * shuffle); the per-domain cap is ONE window over a hash-partitioned
  * domain key — partitioned, never global, so it scales with
  * executors. Rank is by a deterministic content-independent hash
  * (md5 of the id), i.e. a uniform per-domain sample, reproducible
  * across runs and engines.
  */
object UrlOps {

  private val normalizeUdf = udf((u: String) => UrlKernel.normalize(u))
  private val hostUdf = udf((u: String) => UrlKernel.host(u))
  private val regDomainUdf = udf((h: String) => UrlKernel.registeredDomain(h))

  /** Canonical URL (see [[UrlKernel.normalize]]). */
  def normalizeUrl(c: Column): Column = normalizeUdf(c)

  /** Lowercased host of a URL (null when unparseable). */
  def urlHost(c: Column): Column = hostUdf(c)

  /** Registrable domain of a host (public-suffix-aware heuristic). */
  def registeredDomain(c: Column): Column = regDomainUdf(c)

  /** robots.txt compliance gate (RFC 9309 prefix subset): join each
    * URL's host to its robots.txt content and decide allow/deny by
    * longest-matching-prefix (Allow wins ties; hosts with no robots
    * row are allowed). Adds a `robots_allowed` column.
    *
    * Scale shape: the robots table is one small row per HOST
    * (crawl-politeness state is host-cardinality, not page-
    * cardinality) — broadcast; the decision itself is a map-only UDF
    * with a per-task memo of parsed rule sets keyed by the robots
    * text, so each host's file parses once per task, not once per
    * page.
    */
  def robotsFilter(df: DataFrame, urlCol: String, robots: DataFrame,
      hostCol: String = "host", txtCol: String = "robots_txt",
      agent: String = "*"): DataFrame = {
    val decideFn = new ((String, String) => Boolean) with Serializable {
      @transient private lazy val memo =
        new java.util.concurrent.ConcurrentHashMap[String, Array[(Boolean, String)]]()
      def apply(txt: String, url: String): Boolean = {
        if (txt == null) return true
        val rules = memo.computeIfAbsent(txt, UrlKernel.robotsRules(_, agent))
        UrlKernel.robotsAllowed(rules, UrlKernel.path(url))
      }
    }
    val decideUdf = udf(decideFn)
    // One rules row per host, enforced here: a robots frame carrying
    // duplicate host rows would otherwise silently DUPLICATE every
    // matching URL row through the left join (r12 advice). Crawlers do
    // re-fetch robots.txt; keeping an arbitrary one of the duplicates
    // matches the one-file-per-host semantics of RFC 9309.
    df.select(col("*"), KernelOnce(urlHost(col(urlCol))).as("__u_host"))
      .join(broadcast(robots.select(col(hostCol).as("__r_host"),
        col(txtCol).as("__r_txt")).dropDuplicates("__r_host")),
        col("__u_host") === col("__r_host"), "left")
      .withColumn("robots_allowed",
        coalesce(decideUdf(col("__r_txt"), col(urlCol)), lit(true)))
      .drop("__u_host", "__r_host", "__r_txt")
  }

  /** Adds norm_url, host, domain columns derived from `urlCol`. */
  def withUrlColumns(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("norm_url", normalizeUrl(col(urlCol)))
      .withColumn("host", urlHost(col(urlCol)))
      .withColumn("domain", registeredDomain(col("host")))

  /** Keep at most `maxPerDomain` rows per registrable domain, chosen
    * by md5-rank of `idCol` (a deterministic uniform sample — no
    * crawl-order bias). Expects a `domain` column (see
    * [[withUrlColumns]]); adds nothing, just filters.
    */
  def capPerDomain(df: DataFrame, idCol: String, maxPerDomain: Int): DataFrame = {
    val w = Window.partitionBy(col("domain"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= maxPerDomain)
      .drop("__rk")
  }

  /** Domain-blocklist filter — the first gate of every web-corpus
    * pipeline (adult/malware/spam domain lists): drop rows whose
    * registrable `domain` (see [[withUrlColumns]]) appears in the
    * blocklist, matching the domain itself AND any subdomain of a
    * blocked entry (blocking `example.com` blocks
    * `cdn.example.com` — compare on the registrable domain, so this
    * reduces to one equality). The blocklist is list-sized (thousands
    * to low millions), broadcast into a map-side LEFT ANTI join — no
    * corpus shuffle, composes with scan pushdown.
    */
  def filterBlockedDomains(df: DataFrame, blocklist: DataFrame,
      blockCol: String = "domain"): DataFrame =
    df.join(broadcast(blocklist.select(col(blockCol).as("domain")).distinct()),
      Seq("domain"), "left_anti")
}
