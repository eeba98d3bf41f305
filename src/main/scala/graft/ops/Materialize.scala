package graft.ops

import java.util.IdentityHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of materialised intermediates: every snapshot the engine
  * keeps in executor storage is made and freed here. The code that makes a
  * snapshot owns it, and frees it through its handle ([[release]], or a
  * [[Latest]]) or by leaving the [[scope]] it was made in. Nothing is freed
  * by walking a plan's leaves, so code that only reads a snapshot never
  * frees it. A snapshot made with no scope open stays pinned until it is
  * released. */
object Materialize {

  /** `df` as a local checkpoint, materialised now when `eager`, else by
    * the first action that reads it. Its blocks are the only copy: a lost
    * block fails the action with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`. */
  def local(df: DataFrame, eager: Boolean): DataFrame =
    own(df.localCheckpoint(eager))

  /** `df` itself when every leaf of its plan is materialised data (a
    * snapshot or a local relation), which later writes to its source files
    * cannot change; else an eager [[local]] snapshot. */
  def fixed(df: DataFrame): DataFrame =
    if (df.queryExecution.analyzed.collectLeaves().forall(leaf =>
          leaf.isInstanceOf[LogicalRDD] || leaf.isInstanceOf[LocalRelation])) df
    else local(df, eager = true)

  /** `df` persisted, filled by the first action that reads it; a lost
    * block is recomputed. A frame other code cached stays that code's. */
  def cached(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df else own(df.persist())

  /** Frees `snapshot`, a frame [[local]] or [[cached]] returned (a frame
    * derived from it frees nothing), blocking until its blocks are gone. */
  def release(snapshot: DataFrame): Unit = {
    scoped.synchronized(scoped.remove(snapshot))
    snapshot.queryExecution.logical match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = true)
      case _ => snapshot.unpersist(blocking = true)
    }
  }

  /** Runs `body`, then frees the snapshots made inside it, on this thread
    * or on threads it started, also when it throws. It frees nothing else:
    * not what scopes open on other threads made, nor what was made with no
    * scope open. Scopes nest; a snapshot belongs to the innermost. */
  def scope[T](body: => T): T = {
    val s = new Scope
    open.set(s :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      scoped.synchronized {
        s.closed = true
        scoped.asScala.collect { case (df, owner) if owner eq s => df }.toList
      }.foreach(release)
    }
  }

  /** A [[scope]] for a caller that has the context to itself while `body`
    * runs, as a timing harness does: it also frees every RDD persisted
    * meanwhile by code that did not go through this object. */
  def exclusive[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try scope(body)
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }
  }

  /** Holds one snapshot at a time, for loops that replace their state each
    * round: `replace`, called once the new snapshot is materialised, frees
    * the one held before. */
  final class Latest {
    private var held: Option[DataFrame] = None
    def replace(snapshot: DataFrame): DataFrame = { close(); held = Some(snapshot); snapshot }
    def close(): Unit = { held.foreach(release); held = None }
  }

  private final class Scope { var closed = false } // guarded by `scoped`

  // inherited, so a thread started inside a scope makes snapshots for it
  private val open = new InheritableThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }
  // the snapshots of open scopes, each to its scope
  private val scoped = new IdentityHashMap[DataFrame, Scope]

  private def own(snapshot: DataFrame): DataFrame = scoped.synchronized {
    open.get.find(!_.closed).foreach(scoped.put(snapshot, _))
    snapshot
  }
}
