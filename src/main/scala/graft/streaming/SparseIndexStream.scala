package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming maintenance of the BM25 sparse-index statistics: the
  * per-term document-frequency table and the (n_docs, sum_dl) corpus
  * totals, kept incrementally fresh as documents stream in — the
  * "keep the retrieval index's scoring statistics live" half of a
  * production search pipeline (the postings themselves are the
  * per-batch tf rows; the SHARED global state a scorer needs is df +
  * totals, which is exactly what these two queries maintain).
  *
  * The definitions are SHARED with the batch retrieval family
  * (`TextOps.termDf` / `TextOps.corpusTotals`, the same frames x47's
  * `bm25Parts` consumes), so a streamed table is bit-identical to a
  * batch rebuild over the same documents — the batch/stream twin
  * discipline of [[DriftMonitor]], applied to the index.
  *
  * Streaming shape: both are pure streaming aggregations with no
  * watermark to manage — state is the VOCABULARY-sized df table (the
  * same "vocabulary-sized, broadcastable" bound the batch LM/retrieval
  * plans rely on) and ONE row of totals; each micro-batch folds its
  * term counts in map-side before touching state. Run in Complete mode
  * to expose the live tables, or Update mode to emit only the terms a
  * batch touched (the delta a downstream scorer would re-broadcast).
  */
object SparseIndexStream {

  /** Incremental per-term document frequency of a streaming documents
    * frame (needs `doc_id`, `text`). */
  def termDf(docs: DataFrame): DataFrame =
    graft.queries.TextOps.termDf(graft.queries.TextOps.tokenized(docs))

  /** Incremental corpus totals (n_docs, sum_dl) of a streaming
    * documents frame. */
  def corpusTotals(docs: DataFrame): DataFrame =
    graft.queries.TextOps.corpusTotals(graft.queries.TextOps.tokenized(docs))

  /** Start the PERSISTED-index append stream (the postings half; the
    * two aggregations above are the live-statistics half): each
    * micro-batch of raw (doc_id, text) rows lands its postings and
    * version-registry rows under its own batch partition via
    * [[graft.queries.TextOps.appendSparseIndex]] —
    * delete-before-write, so replays overwrite themselves and the
    * sink stays exactly-once through retries. A micro-batch that
    * re-ingests a changed document simply becomes the doc's latest
    * registry version — the streaming path gets update semantics for
    * free. Searches over the accumulating index go through
    * [[graft.queries.TextOps.bm25SearchStored]], which reads only the
    * queried terms' bucket directories. */
  def start(docs: DataFrame, store: graft.store.Store,
      checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        graft.queries.TextOps.appendSparseIndex(b.sparkSession, b,
          id, store)
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
