package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Reuse-point materialization for multi-consumer intermediates.
  *
  * Operators that feed one intermediate DataFrame to several consumers
  * (a tokenization shared by a model fit and a scoring pass, a gated
  * corpus feeding both sides of an anti-join) must cut the plan once,
  * or every consumer replays the whole upstream subtree. A cut is
  * `persist(MEMORY_AND_DISK)`: the blocks are computed once and reused
  * by every consumer, and lineage survives, so a lost executor
  * recomputes its partitions instead of failing the job. Rounds 1-8
  * used `localCheckpoint(false)`, which has the same reuse shape but
  * keeps the blocks on executor-local storage only with the lineage
  * truncated, so one lost executor fails the run unrecoverably.
  *
  * Two cuts truncate lineage on purpose: [[cutPinned]] (an operator
  * that writes a path its own plan reads) and [[cutLoop]] (iteration
  * generations). Everything else persists.
  *
  * Persisted blocks are pinned by the session's cache manager until
  * `spark.catalog.clearCache()` or `unpersist()`. `Bench` and `Verify`
  * both clear the cache after every query so a 100-query run does not
  * accumulate blocks; any other long-lived session embedding these
  * operators owns the same contract (clear, or [[release]] cuts it
  * obtained).
  */
object Materialize {
  def cut(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Eager cut: `persist` + a `count()` action, for a caller that needs
    * the blocks computed NOW (e.g. a bounded probe about to be collected).
    */
  def cutEager(df: DataFrame): DataFrame = {
    val p = cut(df)
    p.count()
    p
  }

  /** Pinned cut — an eager `localCheckpoint`. Use it when the operator is
    * about to WRITE to a path its own plan READS (a read-modify-commit
    * cycle such as [[graft.operators.Dedup.incrementalDedupRun]]): a
    * persist cut keeps its lineage, so the commit write triggers
    * `CacheManager.recacheByPath` on the store path and the cached
    * result is recomputed against the just-mutated store — the
    * operator's own commit invalidates its own output (observed as
    * 0-row results). Only a true lineage truncation removes the store
    * scan from the plan; resilience-via-lineage is exactly the property
    * that makes persist WRONG here.
    */
  def cutPinned(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Loop-iteration cut — eager, truncating, and frees the PREVIOUS
    * generation's blocks. Iterative refinement (`Bpe.train`'s merge
    * rounds, k-means passes) must not stack lineage: a persist cut keeps
    * the full plan, so round k would nest k `InMemoryRelation`s
    * (quadratic analyzer work, eventual StackOverflow) and pin k
    * generations of cache with no unpersist. Mirrors the RDD
    * persist/unpersist discipline of the connected-components fixpoint
    * ([[graft.operators.Dedup.connectedComponents]]): checkpoint the new
    * generation, then release the old one — its blocks are dead the
    * moment the new generation is materialized.
    */
  def cutLoop(df: DataFrame, previous: Option[DataFrame]): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
    previous.foreach(release)
    cp
  }

  /** Free a cut's storage. A persist cut unpersists through the cache
    * manager; a localCheckpoint cut unpersists the checkpointed RDD
    * directly (its blocks otherwise live until the RDD is GC'd).
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => df.unpersist(blocking = false)
    }

  /** `.materialized` chains where `.localCheckpoint(false)` used to. */
  implicit class MatOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Materialize.cut(df)
    def materializedEager: DataFrame = Materialize.cutEager(df)
  }
}
