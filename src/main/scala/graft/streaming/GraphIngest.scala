package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.StringToColumn
import graft.queries.VectorOps
import graft.store.Store

/** Streaming k-NN-graph ingest — the incremental graph lifecycle
  * ([[graft.queries.VectorOps.appendKnnGraph]]) driven by Structured
  * Streaming, the graph twin of [[AnnIngest]]'s corpus-code stream:
  * each micro-batch of raw (vec_id, embedding) rows is normalized,
  * assigned against the PERSISTED coarse book, landed under its own
  * `batch` partition (delete-before-write — replays overwrite
  * themselves, exactly-once through retries), and ONLY the cells the
  * batch touched are re-edged. Untouched cells' members and graph
  * partitions are never read or rewritten, so a day's graph maintenance
  * scales with the touched-cell population, not the corpus.
  *
  * Correctness rides the batch path's proof (in-cell edges depend
  * only on their cell's members; StoreSpec pins two-batch ≡ one-shot
  * bit-identity); the stream adds only the micro-batch wiring, pinned
  * in StreamingSpec against the one-shot x86 graph.
  */
object GraphIngest {

  /** Start the assign-append-re-edge stream. `vectors` must provide
    * (vec_id LONG, embedding ARRAY<numeric>); Spark's micro-batch id
    * becomes the `batch` partition. */
  def start(vectors: DataFrame, store: Store, checkpoint: String)
      : StreamingQuery =
    vectors
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        VectorOps.appendKnnGraph(b.sparkSession,
          VectorOps.normalized(b), id, store)
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
