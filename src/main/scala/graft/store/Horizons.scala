package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted lifecycle horizon for a maintained index family.
  *
  * Compaction (and cell rebalance) physically destroy superseded
  * history, so each family records the batch id its history was folded
  * up to in a tiny one-row `<base>_horizon` entity. Two consumers:
  *
  *  - the APPEND guard: a writer asked to (re)ingest a batch id at or
  *    below the horizon must fail loudly — that batch id's partition
  *    was folded away, and the delete-before-write idempotency replay
  *    (`store.delete(batch -> id)`) would otherwise silently destroy
  *    every other row folded into the consolidated partition;
  *  - as-of (snapshot) reads, which refuse to serve history below the
  *    horizon rather than present compacted state under an old batch
  *    id.
  *
  * The horizon only advances (set() keeps the max), so a re-run of an
  * older maintenance job cannot narrow the guard.
  */
object Horizon {
  private def entityOf(base: String) = s"${base}_horizon"

  /** Advance the persisted horizon to `batch` (monotone: an older
    * value never replaces a newer one, and [[get]] reads the max over
    * all recorded rows). The write is partitioned BY THE VALUE, so it
    * only ever creates/overwrites the new value's own tiny partition:
    * a crash mid-write cannot take previously recorded horizons with
    * it — a whole-entity overwrite would pass through an
    * entity-absent window in which every guard silently vanished.
    * A handful of one-row partitions accumulate per family over its
    * lifetime; harmless. */
  def set(store: Store, s: SparkSession, base: String,
      batch: Long): Unit = {
    val h = math.max(batch, get(store, s, base).getOrElse(Long.MinValue))
    store.write(entityOf(base),
      s.createDataFrame(Seq((h, 1))).toDF("horizon", "v"),
      Seq("horizon"))
  }

  /** The persisted horizon, if any maintenance job ever folded this
    * family. Only entity-absent (AnalysisException) means "no horizon";
    * a FAILING read propagates — swallowing it would let an append
    * replay destroy folded history. */
  def get(store: Store, s: SparkSession, base: String): Option[Long] =
    try {
      import org.apache.spark.sql.functions.{col, max}
      val r = store.read(entityOf(base), s)
        .agg(max(col("horizon").cast("long"))).first()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    } catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Loud append guard (see class doc). */
  def requireAppendable(store: Store, s: SparkSession, base: String,
      batchId: Long): Unit =
    get(store, s, base).foreach(h => require(batchId > h,
      s"append batch $batchId is at or below the $base compaction " +
        s"horizon $h: that batch id's history was folded into a " +
        "consolidated partition, and the delete-before-write replay " +
        "would silently destroy every other row folded with it — " +
        "ingest under a fresh batch id above the horizon"))

  /** Remove a family's horizon entirely — for maintenance verbs that
    * TEAR DOWN a derived artifact (e.g. cell rebalance invalidating
    * the walk corpus): the absent horizon tells the artifact's next
    * maintenance pass to rebuild from scratch rather than resume an
    * invalid watermark. */
  def clear(store: Store, base: String): Unit =
    store.delete(entityOf(base), Seq.empty)

  /** Loud as-of (snapshot) guard: maintenance physically destroyed
    * per-batch history below the horizon, so a snapshot there cannot
    * be served truthfully — failing beats silently returning the
    * folded (newer) state under an old batch id. */
  def requireServable(store: Store, s: SparkSession, base: String,
      asOfBatch: Long): Unit =
    if (asOfBatch != Long.MaxValue)
      get(store, s, base).foreach(h => require(asOfBatch >= h,
        s"as-of batch $asOfBatch is below the $base maintenance " +
          s"horizon $h: per-batch history below it was physically " +
          "folded and cannot be served"))
}

/** The store-level snapshot verb shared by every batch-partitioned
  * index family (sparse postings, ANN codes, k-NN vectors, drift
  * counts): an as-of read is the SAME plan as the live read over
  * the `batch <= asOf` cut of each batch-partitioned entity — the cut
  * is a partition-directory prune, so a snapshot costs no more than
  * the live read over the same history. `Long.MaxValue` (the default
  * everywhere) means "latest" and keeps the read entirely cut-free. */
object Snapshot {
  val Latest: Long = Long.MaxValue

  /** The batch cut. Plain comparison on the partition column (no cast
    * wrapping) so the scan prunes `batch=` directories at planning. */
  def cut(df: DataFrame, asOfBatch: Long): DataFrame =
    if (asOfBatch == Latest) df
    else df.filter(org.apache.spark.sql.functions.col("batch")
      <= asOfBatch)
}

/** One entity in a [[StagedFold]] move: its name, partition keys, and
  * the recast applied when copying stage → main (partition columns
  * come back from directory inference with narrowed types, so each
  * family re-widens its own). */
case class FoldEntity(name: String, keys: Seq[String],
    recast: DataFrame => DataFrame = identity)

/** Crash-safe staged swap shared by every compaction job (sparse
  * index, ANN corpus, drift counts).
  *
  * The discipline: the consolidated copy lands in `<name>_stage`
  * entities first; a one-row `<family>_compact_intent` marker is
  * written ONLY after every stage write succeeded; then the main
  * entities are dropped and refilled from the stage; the marker is
  * cleared only after every write-back landed. At no point does a
  * write read the files it replaces, and whenever the marker is
  * present the stage is a COMPLETE copy that supersedes whatever mix
  * of un-deleted source partitions and partial write-back the main
  * entities hold — so [[rollForward]] (which every compaction runs
  * first, before reading main state) can always finish the move.
  * Without the marker a populated stage is pre-move litter from a
  * crash before staging completed: main state is intact and the next
  * real fold clears the stage before writing. Run as the family's
  * offline maintenance job, not under a concurrent writer. */
object StagedFold {
  private def intentOf(family: String) = s"${family}_compact_intent"
  private def stageOf(name: String) = s"${name}_stage"

  /** Complete a crashed fold's staged move, if an intent marker says
    * one was in flight; `after(horizon)` re-runs the caller's
    * post-move step (e.g. tombstone retirement). */
  def rollForward(store: Store, s: SparkSession, family: String,
      entities: Seq[FoldEntity], after: Long => Unit = _ => ()): Unit = {
    val intent =
      try store.read(intentOf(family), s)
        .select(org.apache.spark.sql.functions.col("horizon")
          .cast("long")).limit(1).collect()
        .headOption.map(_.getLong(0))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    intent.foreach { h =>
      move(store, s, family, entities, h)
      after(h)
    }
  }

  /** Run the staged swap: clear stage litter, land the consolidated
    * frames, mark intent, move stage → main, advance the family's
    * horizon to `horizon`, run `after`. Callers must have called
    * [[rollForward]] BEFORE reading the state `staged` derives from. */
  def run(store: Store, s: SparkSession, family: String,
      staged: Seq[(FoldEntity, DataFrame)], horizon: Long,
      after: Long => Unit = _ => ()): Unit = {
    staged.foreach { case (e, _) => store.delete(stageOf(e.name), Seq.empty) }
    staged.foreach { case (e, df) => store.write(stageOf(e.name), df, e.keys) }
    store.write(intentOf(family),
      s.createDataFrame(Seq(Tuple1(horizon))).toDF("horizon"), Seq.empty)
    move(store, s, family, staged.map(_._1), horizon)
    after(horizon)
  }

  private def move(store: Store, s: SparkSession, family: String,
      entities: Seq[FoldEntity], horizon: Long): Unit = {
    // per-entity: probe the stage BEFORE touching main, so an entity
    // with no staged copy keeps its main state intact — a fold
    // recovered by a NEWER code version that lists entities the
    // crashed fold never staged (e.g. an entity added to the family
    // later) must not delete data it has no copy of. Stages are
    // written before the intent marker, so for entities the crashed
    // fold DID list the stage is always complete.
    val staged = entities.flatMap { e =>
      val df =
        try Some(store.read(stageOf(e.name), s))
        catch {
          case _: org.apache.spark.sql.AnalysisException => None
        }
      df.map(e -> _)
    }
    staged.foreach { case (e, df) =>
      store.delete(e.name, Seq.empty)
      store.write(e.name, e.recast(df), e.keys)
    }
    // the horizon advances BEFORE the intent marker clears: a crash
    // between the two re-runs an (idempotent) roll-forward, whereas
    // the reverse order had a window where the fold was complete but
    // the append-replay guard never engaged — a replayed batch id
    // could then delete-before-write the consolidated partition
    Horizon.set(store, s, family, horizon)
    store.delete(intentOf(family), Seq.empty)
    entities.foreach(e => store.delete(stageOf(e.name), Seq.empty))
  }
}
