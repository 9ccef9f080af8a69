package graft.ops

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Generated inputs for the local-or-distributed gate properties. Each
  * op's spec runs its `private[ops]` gated overload at cap 0 (the
  * distributed plan on any non-empty input) and at [[LocalGate.MaxRows]]
  * (the local kernel) on every case, and compares the rows.
  */
private[ops] object GateCases {

  /** `n` cases drawn with fixed seeds, so a failure reproduces. */
  def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** A word of `words`, its head drawn about half the time (a skewed
    * key for every op that groups or joins on tokens).
    */
  def word(words: IndexedSeq[String]): Gen[String] =
    Gen.frequency(1 -> Gen.const(words.head), 1 -> Gen.oneOf(words))

  /** A text of up to `maxLen` words, sometimes NULL or empty. */
  def text(words: IndexedSeq[String], maxLen: Int): Gen[String] =
    Gen.frequency(
      1 -> Gen.const(null: String),
      1 -> Gen.const(""),
      12 -> Gen.choose(1, maxLen).flatMap(n =>
        Gen.listOfN(n, word(words)).map(_.mkString(" "))))

  /** An id from a small range, so ids repeat, with 0 the most frequent
    * and NULL sometimes.
    */
  val id: Gen[Option[Long]] = Gen.frequency(
    1 -> Gen.const(None),
    3 -> Gen.const(Some(0L)),
    12 -> Gen.choose(1L, 25L).map(Some(_)))

  /** Up to 60 (id, text) rows over `words` plus one long document
    * (1,500 words); empty input is a case of its own in each spec.
    */
  def docs(words: IndexedSeq[String]): Gen[Seq[(Option[Long], String)]] = for {
    n <- Gen.choose(0, 60)
    rows <- Gen.listOfN(n, Gen.zip(id, text(words, 30)))
    longId <- id
    long <- Gen.listOfN(1500, word(words)).map(_.mkString(" "))
  } yield rows :+ (longId -> long)
}
