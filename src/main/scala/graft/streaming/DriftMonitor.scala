package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, max}
import graft.StringToColumn
import graft.store.Store

/** Continuous version-drift monitoring — the batch `*VersionDrift`
  * verbs run as a streaming side effect of ingest. Each micro-batch
  * stamps which trained-model version is CURRENTLY serving (the
  * store's latest `trained_at`) into a `<family>_serving` entity; when
  * the stamp differs from the previous batch's, the family's drift
  * verb runs between the two versions and its rows land under the
  * batch's own `<family>_version_drift` partition — so a model
  * roll-forward mid-stream produces its before/after neighbor-set
  * report automatically, with no operator running the batch verb by
  * hand. The x101 batch/stream-twin discipline applied to the
  * versioned-model families.
  *
  * Idempotency: both the stamp and the drift rows are delete-before-
  * write on the `batch` partition, so a replayed micro-batch rewrites
  * its own rows. A replay AFTER a further retrain re-stamps the
  * version serving at replay time — the stamp records what a read at
  * that batch would have served, which is the honest answer for a
  * serving log (the drift rows themselves are deterministic given
  * their (ver_a, ver_b) columns, which ride in the output).
  *
  * Scale shape: the stamp read is one partition-pruned `max` over the
  * version column (version-count rows, not data); the previous stamp
  * is a head(1) over the batch-count-sized serving log; the drift
  * verb's frames are queries×k-sized (its serves are the
  * partition-pruned stored paths). Nothing here scans the corpus.
  */
object DriftMonitor {

  /** Latest version of a (trained_at)-partitioned entity; None when
    * the entity is absent or empty (nothing trained yet — the monitor
    * stays silent rather than stamping a sentinel). */
  private def latestVersion(s: SparkSession, store: Store,
      entity: String): Option[Long] =
    try {
      val r = store.read(entity, s)
        .agg(max($"trained_at".cast("long"))).first()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }

  /** Stamp the serving version for `batch` and emit drift rows when
    * it changed since the previous stamped batch. `drift` is the
    * family's batch verb, called only on a version change. */
  private[streaming] def stampAndDrift(s: SparkSession, store: Store,
      batch: Long, family: String, versionedEntity: String,
      drift: (Long, Long) => DataFrame): Unit =
    latestVersion(s, store, versionedEntity).foreach { cur =>
      val servingEntity = s"${family}_serving"
      // previous stamp = the highest batch strictly below this one —
      // strict, so a replayed batch compares against the same
      // predecessor it originally did, not against itself
      val prev =
        try {
          store.read(servingEntity, s)
            .filter($"batch".cast("long") < batch)
            .orderBy($"batch".cast("long").desc)
            .select($"trained_at".cast("long"))
            .head(1).headOption.map(_.getLong(0))
        } catch {
          case _: org.apache.spark.sql.AnalysisException => None
        }
      import s.implicits._
      store.write(servingEntity,
        Seq((batch, cur)).toDF("batch", "trained_at"), Seq("batch"))
      prev.filter(_ != cur).foreach { p =>
        // The previous version may have been VACUUMED between batches:
        // retention protects only the NEWEST version — exactly the one
        // a flip replaces — so the flip's ver_a is the version most
        // likely to be gone. The drift verb's as-of serve refuses a
        // missing version, and an uncaught refusal here would fail the
        // micro-batch and terminate the streaming query (under
        // startMonitored, the ingest stream itself — and checkpoint
        // replays re-hit the same refusal: a poison batch). So the
        // monitor degrades gracefully: probe ver_a's retention first
        // (one partition-pruned existence read — version-count rows,
        // never data), and keep a narrow catch around the drift write
        // for a vacuum racing between the probe and the serve (or
        // as-of history destroyed underneath it, the same refusal
        // class). The stamp above already landed either way; the gap
        // is reported, not fatal. A vacuum can never make the as-of
        // read silently serve a WRONG older version: retention drops
        // every version below its cut except the newest, so if ver_a
        // is gone nothing at-or-below it survives and the serve
        // refuses loudly — which is what this degrade path absorbs.
        val verARetained =
          try {
            !store.read(versionedEntity, s)
              .filter(org.apache.spark.sql.functions
                .col("trained_at").cast("long") === p).isEmpty
          } catch {
            case _: org.apache.spark.sql.AnalysisException => false
          }
        if (!verARetained)
          System.err.println(s"[drift-monitor] $family version " +
            s"$p was vacuumed before batch $batch could report the " +
            s"$p -> $cur drift; stamped the new version without a " +
            "report")
        else
          try {
            store.write(s"${family}_version_drift",
              drift(p, cur)
                .withColumn("batch", lit(batch))
                .withColumn("ver_a", lit(p))
                .withColumn("ver_b", lit(cur)),
              Seq("batch"))
          } catch {
            case e: IllegalArgumentException =>
              System.err.println(s"[drift-monitor] $family version " +
                s"drift $p -> $cur unavailable at batch $batch " +
                s"(${e.getMessage}); stamped the new version without " +
                "a report")
          }
      }
    }

  /** The embedding-model monitor: stamps `node_embeddings`' latest
    * version per batch; on change, lands
    * [[graft.queries.VectorOps.embedVersionDrift]]'s report. */
  private[streaming] def embedStampAndDrift(s: SparkSession,
      store: Store, batch: Long, k: Int,
      queryNodes: Seq[Long]): Unit =
    stampAndDrift(s, store, batch, "embed", "node_embeddings",
      (a, b) => graft.queries.VectorOps
        .embedVersionDrift(s, store, a, b, k, queryNodes))

  /** The ANN-book monitor: stamps `ann_coarse_book`'s latest version
    * per batch; on change, lands
    * [[graft.queries.VectorOps.annVersionDrift]]'s report (query
    * vectors read from `dir`'s embeddings table, like the batch verb). */
  private[streaming] def annStampAndDrift(s: SparkSession, dir: String,
      store: Store, batch: Long, k: Int): Unit =
    stampAndDrift(s, store, batch, "ann", "ann_coarse_book",
      (a, b) => graft.queries.VectorOps
        .annVersionDrift(s, dir, store, a, b, k))

  /** Continuous DATA-drift monitor: x126's PSI/TV VERDICTS emitted per
    * micro-batch under the batch's own partition — the version-drift
    * idiom applied to the data side, closing the gap where the
    * streaming twin maintained the count table live but the verdicts
    * were only read batch-side (a drifting source was flagged at the
    * next batch report, not at ingest time).
    *
    * Per micro-batch: (1) the batch's own quality-bucket counts land
    * under `quality_bucket_counts`' batch partition (delete-before-
    * write ⇒ a replayed batch rewrites its own rows); (2) the
    * cumulative count table is summed over landed batches ≤ this one
    * — the `<=` cut keeps a checkpoint replay idempotent even after
    * later batches landed; (3) `psiDriftOver`'s verdict rows land
    * under `quality_drift`'s batch partition. StreamingSpec pins the
    * landed verdicts row-identical to the batch x126 over the same
    * document prefix, including across a mid-stream distribution
    * shift.
    *
    * Scale shape: the per-batch counts pass is the one corpus-sized
    * map-side-combinable aggregation x126 already pays (over the
    * BATCH, not the history); everything downstream is
    * batches×|sources|×10 rows. Empty guard: a batch with no
    * qualifying docs adds no counts, and a verdict is only written
    * when the cumulative table is nonempty — an empty partitioned
    * write would land a schemaless entity that poisons later reads
    * (the trainStoredEmbeddings lesson). */
  def dataDriftMonitor(docs: org.apache.spark.sql.DataFrame,
      store: Store, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        dataDriftBatch(store, b, id)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** One monitor micro-batch, extracted so the compaction-replay
    * refusal is directly testable. The append guard runs FIRST: a
    * replayed batch id at/below the family's compaction horizon
    * ([[graft.queries.TextOps.compactQualityCounts]]) would
    * delete-before-write the consolidated partition and silently
    * destroy every other batch folded with it — refusing loudly is
    * correct here (unlike the vacuum degrade above) because
    * compaction under a live monitor is forbidden by the fold
    * families' contract, and continuing the SAME checkpoint after an
    * offline fold keeps ids strictly above the horizon. */
  private[graft] def dataDriftBatch(store: Store,
      b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    val s = b.sparkSession
    import org.apache.spark.sql.functions.{col, lit, sum}
    graft.store.Horizon.requireAppendable(store, s, "qualitydrift", id)
    val counts = graft.queries.TextOps.qualityBucketCounts(b)
      .withColumn("batch", lit(id))
      .localCheckpoint(true)
    if (!counts.isEmpty)
      store.write("quality_bucket_counts", counts, Seq("batch"))
    val cum =
      try {
        store.read("quality_bucket_counts", s)
          .filter(col("batch").cast("long") <= id)
          .groupBy(col("source"), col("bucket"))
          .agg(sum(col("r")).as("r"), sum(col("c")).as("c"))
          .localCheckpoint(true)
      } catch {
        // nothing landed yet (every batch so far empty)
        case _: org.apache.spark.sql.AnalysisException =>
          counts.limit(0).select(col("source"), col("bucket"),
            col("r"), col("c"))
      }
    if (!cum.isEmpty)
      store.write("quality_drift",
        graft.queries.TextOps.psiDriftOver(cum)
          .withColumn("batch", lit(id)),
        Seq("batch"))
  }

  /** Standalone ANN-book version monitor on its own clock. The ANN
    * family is the one versioned family whose retrains are ILLEGAL on
    * an ingest store (a retrain under a PQ-coded corpus refuses — the
    * desync guard), so unlike the embedding monitor this one cannot
    * ride [[AnnIngest]]: it watches a store where books are trained
    * and served against the `dir` corpus (the x43 shape) and stamps /
    * drifts per tick batch. `ticks` is any streaming frame used purely
    * as a clock — row contents are ignored; each micro-batch costs one
    * version-list max plus, on a flip, the queries×k drift serves. */
  def annMonitor(ticks: org.apache.spark.sql.DataFrame, dir: String,
      store: Store, checkpoint: String, k: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ticks.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.count(): Unit // drain the trigger batch; contents unused
        annStampAndDrift(b.sparkSession, dir, store, id, k)
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
