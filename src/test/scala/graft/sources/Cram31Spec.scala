package graft.sources

import graft.{ReferenceFixtures, SparkFixture}
import org.scalatest.funsuite.AnyFunSuite

/** CRAM 3.1 and 2.x end-to-end: htslib-written (test_view
  * -o version=N) twins of ce#1000.sam and ce#5b.sam — for 3.1 in all
  * three encoder profiles: normal (rANSNx16 + tok3 names), small
  * (adds fqzcomp qualities and arith blocks) and archive (arith
  * everywhere) — must decode field-for-field equal to the SAM
  * original through the same `alignments` source. This drives
  * [[graft.kernel.NameTok3]], [[graft.kernel.FqzComp]] and
  * [[graft.kernel.ArithDynamic]] inside real containers, not just
  * against block-level golden vectors; the 2.x twins pin the ITF8
  * record counters and CRC-less container/block layout.
  * (reference SAM twins: ext/htslib-1.22.1/test/ce#1000.sam,
  * ce#5b.sam with ce.fa; fixtures regenerable per FIXTURES.md.)
  */
class Cram31Spec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  private def ref(f: String) = ReferenceFixtures.path(s"ext/htslib-1.22.1/test/$f").toString
  private val fixDir = {
    val url = getClass.getResource("/graft/cram31")
    assert(url != null, "cram31 fixture directory missing")
    url.getPath
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.drop("filepath").collect().map(_.toString).sorted.toSeq

  test("CRAM 3.1 normal/small/archive profiles equal the SAM twin (1000 reads)") {
    val sam = rows(spark.read.format("alignments")
      .option("include_seq_qual", "true")
      .load(ref("ce#1000.sam")))
    assert(sam.nonEmpty)
    for (p <- Seq("ce1000_v31.cram", "ce1000_v31_small.cram", "ce1000_v31_archive.cram",
        "ce1000_v21.cram", "ce1000_v40.cram", "ce1000_v40_small.cram",
        "ce1000_v40_archive.cram")) {
      // ce#1000.sam carries MD/NM; the CRAM writer strips them as
      // recomputable, so let the reader regenerate from the reference.
      val c = rows(spark.read.format("alignments")
        .option("include_seq_qual", "true")
        .option("reference_fasta", ref("ce.fa"))
        .load(s"$fixDir/$p"))
      assert(c.length == sam.length, s"$p: ${c.length} rows vs SAM ${sam.length}")
      assert(c == sam, s"$p != ce#1000.sam")
    }
  }

  test("CRAM 3.1 profiles equal the SAM twin (ce#5b: clips, multi-segment)") {
    val sam = rows(spark.read.format("alignments")
      .option("include_seq_qual", "true")
      .load(ref("ce#5b.sam")))
    assert(sam.nonEmpty)
    for (p <- Seq("ce5b_v31.cram", "ce5b_v31_small.cram", "ce5b_v31_archive.cram",
        "ce5b_v40.cram")) {
      val c = rows(spark.read.format("alignments")
        .option("include_seq_qual", "true")
        .option("reference_fasta", ref("ce.fa"))
        .option("generate_md", "false")
        .load(s"$fixDir/$p"))
      assert(c == sam, s"$p != ce#5b.sam")
    }
  }

  test("reference FASTA parses once per process across many CRAM tasks") {
    val loads0 = graft.kernel.CramCodec.fastaLoads.get()
    val df = spark.read.format("alignments")
      .option("reference_fasta", ref("ce.fa"))
      .load(s"$fixDir/ce1000_v31.cram", s"$fixDir/ce1000_v31_small.cram",
        s"$fixDir/ce1000_v31_archive.cram", s"$fixDir/ce1000_v40.cram")
    assert(df.count() == 4000)
    val loads = graft.kernel.CramCodec.fastaLoads.get() - loads0
    assert(loads <= 1, s"FASTA parsed $loads times for 4 tasks (cache miss per task)")
  }

  test("cold FASTA cache is single-flight under genuinely concurrent first loads") {
    // r11 verdict #2: the old get→miss→load→put path let N latch-started
    // cold tasks EACH parse the genome (N × ~3 GB transient heap at
    // mammalian scale). Write a small FASTA to a fresh path (cold key),
    // release 8 threads simultaneously, and slow the open() so every
    // loser arrives while the winner is still parsing — with the old
    // code this pinned loads == 8.
    val fresh = java.io.File.createTempFile("graft_sf_race", ".fa")
    fresh.deleteOnExit()
    java.nio.file.Files.write(fresh.toPath,
      ">chrA\nACGTACGTAC\nGGCCTTAA\n>chrB\nTTTTGGGG\n".getBytes("US-ASCII"))
    val loads0 = graft.kernel.CramCodec.fastaLoads.get()
    val start = new java.util.concurrent.CountDownLatch(1)
    val open: String => java.io.InputStream = { p =>
      Thread.sleep(200) // widen the parse window the losers race into
      new java.io.FileInputStream(p)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            start.await()
            graft.kernel.CramCodec.loadFastaCached(fresh.getAbsolutePath, open).size
          }
        })
      }
      start.countDown()
      val sizes = futures.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(sizes.distinct.size == 1 && sizes.head > 0)
    } finally pool.shutdownNow()
    val loads = graft.kernel.CramCodec.fastaLoads.get() - loads0
    assert(loads == 1, s"FASTA parsed $loads times under 8 concurrent cold loads")
  }

  test("CRAM 2.0/2.1 equal the SAM twin (ce#5b), modulo the format's lossy '*' SEQ") {
    // CRAM 2.x has no NO_SEQ record flag: a secondary read with SEQ '*'
    // comes back reference-reconstructed (clips as N) — byte-identical
    // to htslib's own decode of the same file, which is the contract.
    def noSeq(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.drop("filepath", "sequence").collect().map(_.toString).sorted.toSeq
    val samDf = spark.read.format("alignments")
      .option("include_seq_qual", "true").load(ref("ce#5b.sam"))
    val sam = noSeq(samDf)
    for (p <- Seq("ce5b_v21.cram", "ce5b_v20.cram")) {
      val df = spark.read.format("alignments")
        .option("include_seq_qual", "true")
        .option("reference_fasta", ref("ce.fa"))
        .option("generate_md", "false")
        .load(s"$fixDir/$p")
      assert(noSeq(df) == sam, s"$p != ce#5b.sam (non-seq columns)")
      // the one '*'-SEQ read reconstructs exactly as htslib does:
      // 7S soft clip -> Ns, then reference bases
      val sec = df.filter(org.apache.spark.sql.functions.col("flags") === 256)
        .select("sequence").collect()
      assert(sec.length == 1 && sec(0).getString(0).startsWith("NNNNNNNAGCCTAAG"),
        s"$p: unexpected 2.x SEQ reconstruction")
    }
  }
}
