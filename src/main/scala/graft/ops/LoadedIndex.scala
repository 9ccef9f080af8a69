package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sample}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The driver-built image of a saved index, kept for the next call.
  * MIINT saves an index to build it once and align many times
  * (reference README.md:1063,1199-1203); an op that builds its index
  * image on the driver and broadcasts it (`AlignOps.alignMinimap2FromIndex`,
  * `RypeOps.rypeClassify`) holds one [[LoadedIndex]] and keeps in it
  * the value of its most recent index. The value is rebuilt only when
  * the [[LoadedIndex.Key]] changes; a hit runs no Spark job.
  *
  * The key names what the value was built from:
  *   - the `SparkContext`, and a stopped context never matches;
  *   - the index's files as (path, length, modification time), listed
  *     from the Hadoop FS on every call. Parquet part files get new
  *     names on every overwrite, so rewriting an index at the same path
  *     always misses;
  *   - for an index given as frames, each frame's canonicalized optimized
  *     plan (the key Spark's own cache matches repeated reads of a
  *     relation by), plus the op's gate cap. A frame keys only when its
  *     plan is deterministic, reads nothing but files and does not
  *     sample (a sample's rows follow the scan's split, which the plan
  *     does not fix); any other frame ([[LoadedIndex.ofFrames]] gives
  *     `None`) builds its value on every call and nothing is held.
  *
  * A replaced value is dropped, never destroyed or unpersisted: a plan
  * returned lazily by an earlier call may still read its broadcast, so
  * Spark's ContextCleaner releases it once no plan holds it. Calls load
  * one at a time; a concurrent call with the same key waits for the
  * value instead of building it twice.
  */
private[ops] final class LoadedIndex[V] {
  private var held: Option[(LoadedIndex.Key, V)] = None

  /** The held value when `key` matches its key, else `load`'s, held. */
  def apply(key: Option[LoadedIndex.Key])(load: => V): V = key match {
    case None => load
    case Some(k) => synchronized {
      held match {
        case Some((hk, v)) if hk == k && !k.sc.isStopped => v
        case _ =>
          val v = load
          held = Some(k -> v)
          v
      }
    }
  }
}

private[ops] object LoadedIndex {

  /** What one value was built from; see [[LoadedIndex]]. */
  final case class Key(sc: SparkContext, files: Seq[(String, Long, Long)],
      plans: Seq[LogicalPlan] = Nil, cap: Int = 0)

  /** (path, length, modification time) of every file under `paths`,
    * sorted.
    */
  def files(sc: SparkContext, paths: Seq[Path]): Seq[(String, Long, Long)] =
    paths.flatMap { p =>
      val it = p.getFileSystem(sc.hadoopConfiguration).listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq
    }.sorted

  /** The key of an index given as `frames` with gate cap `cap`, or None
    * when a frame's plan is not deterministic, samples or reads anything
    * but files.
    */
  def ofFrames(frames: Seq[DataFrame], cap: Int): Option[Key] = {
    val plans = frames.map(_.queryExecution.optimizedPlan)
    val roots = plans.flatMap(_.collectLeaves()).map {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(fs.location.rootPaths)
        case _ => None
      }
      case _ => None
    }
    val keyed = plans.forall(_.deterministic) && roots.forall(_.isDefined) &&
      !plans.exists(_.exists(_.isInstanceOf[Sample]))
    if (!keyed) None
    else {
      val sc = frames.head.sparkSession.sparkContext
      Some(Key(sc, files(sc, roots.flatten.flatten.distinct),
        plans.map(_.canonicalized), cap))
    }
  }
}
