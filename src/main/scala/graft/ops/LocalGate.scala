package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** The local-or-distributed decision of every op that has a
  * driver-local kernel beside a distributed plan (`LmScore.scoreAuto`,
  * `Decontaminate.decontaminateExcise`, `RypeOps.rypeClassify`,
  * `BpeTrainer.trainMergesAuto`, `Dedup.connectedComponents`).
  *
  * [[rows]] runs `limit(cap + 1).collect()` on the frame the local
  * kernel reads: at most `cap` rows come back as that kernel's input,
  * more mean the distributed plan runs. The job that decides is the job
  * that delivers, with no `count()` in front of it (a frame over a
  * local relation collects with no job at all). Above the cap the
  * probe still brings `cap + 1` rows to the driver, and the
  * distributed plan reads the frame again: the ops whose plan comes
  * back lazily (`scoreAuto`, `decontaminateExcise`, `rypeClassify`)
  * re-read a frame that is a scan or a benchmark-sized aggregate, and
  * no cache could be dropped once the caller is done with the plan.
  * The ops whose distributed side runs to completion inside the call
  * (`trainMergesAuto`, `connectedComponents`) gate through [[cached]]
  * instead, so their corpus-sized upstream runs once on either side.
  *
  * `rypeClassify` over a saved index holds its gate's answer (the
  * broadcast image, or "above the cap") in a [[LoadedIndex]], so only
  * its first call over unchanged files collects; every other gate
  * collects on every call.
  *
  * One cap, [[MaxRows]], serves every gate: 4M rows of a few longs or
  * short strings fit the driver, and that much data is seconds of local
  * work against several fixed-latency jobs per distributed round. Each
  * op's public entry passes [[MaxRows]] to a `private[ops]` `…Gated`
  * overload that takes the cap, so tests force either side (cap 0 takes
  * the distributed plan on any non-empty input). A gate changes speed,
  * never rows: each op's spec checks both sides as a property over
  * both caps.
  */
private[ops] object LocalGate {

  /** The cap every public entry passes. */
  val MaxRows: Int = 4000000

  /** The rows of `df` when there are at most `cap` of them. */
  def rows(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val got = df.limit(cap + 1).collect()
    if (got.length > cap) None else Some(got)
  }

  /** [[rows]] over `df` persisted: `local` gets the rows when there are
    * at most `cap`, `distributed` the persisted frame otherwise: it reads
    * the partitions the probe computed from the cache and computes each
    * other partition once, so no upstream row is produced twice. The
    * cache is dropped when the chosen side returns, so `distributed`
    * must not hand back a plan that still reads the frame.
    */
  def cached[T](df: DataFrame, cap: Int)(local: Array[Row] => T,
      distributed: DataFrame => T): T = {
    val kept = df.persist()
    try rows(kept, cap).fold(distributed(kept))(local)
    finally kept.unpersist(blocking = false)
  }
}
