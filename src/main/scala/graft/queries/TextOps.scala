package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.StringToColumn
import graft.functions.{Bloom, TextExprs => T, TextSql => TS}

/** Training-data-pipeline text operators over the `documents` table
  * (BASELINE.json north star: dedup, text analysis as first-class engine
  * capabilities). All are pure column-expression / relational plans —
  * codegen'd, shuffle-minimal — with exact DuckDB oracles.
  *
  * Scale design notes (100 TB):
  * - Per-doc operators (x1–x5, x8 signature) are embarrassingly parallel
  *   projections: no shuffle at all.
  * - Pair-finding never enumerates O(n²): x6 joins on shingle (sparse
  *   inverted index with a hot-key document-frequency cap — the standard
  *   skew guard), x7 joins on LSH band keys (candidates only), x8 pairs
  *   join on a signature-prefix bucket. All joins are shuffle-on-key and
  *   AQE-skew-splittable.
  */
object TextOps {

  private[graft] val Stopwords = Seq("the", "a", "of", "and", "in", "to", "is")
  private val StopwordsSql = Stopwords.map(w => s"'$w'").mkString(", ")

  /** Marker-token language profiles for the n-gram/langid heuristic. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "la", "de"),
    "fr" -> Seq("le", "les", "des"))

  /** Shingle width for the near-dup family. */
  private val K = 3

  /** Document-frequency cap: shingles seen in more docs than this are
    * dropped before the pair join (hot-key guard; a no-op at test scale,
    * load-bearing at 100 TB). */
  private val DfCap = 1000

  /** MinHash signature size and band layout: 16 hashes = 4 bands x 4.
    * Defaults for the registry query; [[minhashLsh]] takes them as
    * parameters — the band count is the recall/cost knob (more bands =
    * shorter band keys = more candidate collisions; s-curve threshold
    * ≈ (1/bands)^(bands/sig)), and a larger corpus wants a larger sig
    * with MORE rows per band so bucket occupancy, and with it the
    * per-bucket candidate-pair work, stays bounded as n grows. */
  private val Sig = 16
  private val Bands = 4
  private val RowsPerBand = Sig / Bands

  /** Band count for a target corpus size: grow rows-per-band by one for
    * every ~100× corpus growth (halving the band-collision rate per
    * added row), keeping the candidate set sparse. sig stays the
    * signature accuracy knob; bands = sig / rowsPerBand. The desired
    * rows-per-band is snapped UP to the nearest divisor of sig, so the
    * returned band count always satisfies [[minhashLsh]]'s
    * `sig % bands == 0` contract (a non-divisor row count would give
    * fractional bands). Snapping up, not down, keeps band count
    * STRICTLY shrinking as the corpus crosses each growth decade
    * (longer bands = sparser candidates — the safe direction at scale)
    * and the base grows from sig/Bands, not the default signature's
    * constant, so non-default sig values scale coherently. */
  def bandsFor(corpusSize: Long, sig: Int = Sig): Int = {
    val want = math.min(sig,
      math.max(1, sig / Bands) + math.max(0, (math.log10(
        math.max(1.0, corpusSize.toDouble / 100000.0)) / 2).toInt))
    // smallest divisor of sig >= want: rows (and so bands) stay
    // monotone in corpusSize, and bands always divides sig
    val rows = (want to sig).find(sig % _ == 0).get
    sig / rows
  }

  /** Per-doc MinHash signature, one column per component (h0..h{sig-1}).
    * Hashed shingles materialize once; the whole signature is then ONE
    * codegen pass over the hashed array (MinHashSig), not `sig`
    * interpreted array_min(transform) passes. Shared by x7's
    * self-dedup and x33's incremental dedup. */
  private def signatureDf(s: org.apache.spark.sql.SparkSession,
      dir: String, sig: Int): org.apache.spark.sql.DataFrame =
    signatureOf(Tables.spread(s, dir, "documents"), sig)

  /** MinHash signatures of an arbitrary documents frame — the
    * batch-shaped entry the incremental cluster lifecycle feeds. */
  private def signatureOf(docs: org.apache.spark.sql.DataFrame,
      sig: Int): org.apache.spark.sql.DataFrame =
    docs
      .select($"doc_id", T.wsTokens($"text").as("tk"))
      .filter(size($"tk") >= K)
      .select($"doc_id",
        T.shingleHashes(T.shingles($"tk", K)).as("hs"))
      .select($"doc_id", graft.functions.MinHashSig($"hs", sig).as("sigs"))
      .select($"doc_id" +: (0 until sig).map(i =>
        element_at($"sigs", i + 1).as(s"h$i")): _*)

  /** Explode a signature frame into (doc_id, band, band-key) rows — the
    * LSH bucket table (and, persisted, x33's historical index). */
  private def bandRowsOf(sigDf: org.apache.spark.sql.DataFrame,
      sig: Int, bands: Int): org.apache.spark.sql.DataFrame = {
    val rowsPerBand = sig / bands
    sigDf.select($"doc_id", explode(array((0 until bands).map { b =>
      struct(lit(b).as("b"),
        concat_ws("_", (0 until rowsPerBand)
          .map(r => col(s"h${b * rowsPerBand + r}")): _*).as("k"))
    }: _*)).as("bk"))
      .select($"doc_id", $"bk.b".as("b"), $"bk.k".as("k"))
  }

  /** x33's index lifecycle THROUGH the storage layer (the production
    * shape x33 computes in-query from even doc_ids): persist the
    * historical corpus's dedup artifacts once — the band-bucket table
    * ([[bandRowsOf]]'s output) partitioned by band, and the signature
    * table unpartitioned — so later ingest batches probe parquet, never
    * the historical corpus. */
  def persistDedupIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, bandStore: graft.store.Store,
      sigStore: graft.store.Store): Unit = {
    val hist = signatureDf(s, dir, Sig).filter($"doc_id" % 2 === 0).cache()
    bandStore.write("band_index", bandRowsOf(hist, Sig, Bands), Seq("b"))
    sigStore.write("sig_index", hist, Seq.empty)
    hist.unpersist()
    ()
  }

  /** The later-batch probe against the PERSISTED index: the new
    * (odd-doc_id) batch computes its signatures and band keys, is
    * BROADCAST into the persisted band table (equi-join on (b, k) —
    * the index scan never reshuffles), and candidate verification
    * broadcasts the enriched candidate set into the persisted
    * signature table the same way. The only exchange in the whole
    * plan is the final candidate-sized rank window — the historical
    * corpus is read pruned and shuffled never, which is the 100 TB
    * incremental-ingest contract. Result-identical to x33 (pinned in
    * StoreSpec). */
  private[graft] def incrementalDedupPersisted(
      s: org.apache.spark.sql.SparkSession, dir: String,
      bandStore: graft.store.Store, sigStore: graft.store.Store)
      : org.apache.spark.sql.DataFrame = {
    // no cache: both uses (band keys, verification signatures) are
    // broadcast sides over the BOUNDED new batch — recomputing its
    // signatures twice within the one execution is cheaper than
    // pinning blocks with no post-action seam to unpersist from
    val newSig = signatureDf(s, dir, Sig)
      .filter($"doc_id" % 2 === 1)
    val newBands = bandRowsOf(newSig, Sig, Bands)
      .select($"doc_id".as("new_id"), $"b".as("b2"), $"k".as("k2"))
    val index = bandStore.read("band_index", s)
    val cand = index.join(broadcast(newBands),
        $"b" === $"b2" && $"k" === $"k2")
      .select($"new_id", $"doc_id".as("old_id")).distinct()
    val sigX = newSig.toDF("new_id" +: (0 until Sig).map(i => s"x$i"): _*)
    val sigY = sigStore.read("sig_index", s)
      .toDF("old_id" +: (0 until Sig).map(i => s"y$i"): _*)
    val est = (0 until Sig)
      .map(i => when(col(s"x$i") === col(s"y$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / Sig
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"new_id").orderBy($"est_sim".desc, $"old_id")
    sigY.join(broadcast(cand.join(sigX, "new_id")), "old_id")
      .filter(est >= 0.25)
      .select($"new_id", $"old_id", round(est, 6).as("est_sim"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"new_id", $"old_id".as("dup_of"), $"est_sim")
      .orderBy($"new_id")
  }

  /** x7 body, parameterized on signature size and band count: MinHash
    * signatures -> band-key collision candidates -> signature-agreement
    * refine (est_sim >= 0.25). Splitting a band in two (bands 4 -> 8 at
    * fixed sig) can only ADD candidates — a pair matching a 4-row band
    * matches both 2-row halves — which ScaleGuardsSpec asserts. */
  private[graft] def minhashLsh(s: org.apache.spark.sql.SparkSession,
      dir: String, sig: Int = Sig, bands: Int = Bands)
      : org.apache.spark.sql.DataFrame = {
    require(sig % bands == 0, s"bands ($bands) must divide sig ($sig)")
    val sigDf = signatureDf(s, dir, sig).cache()
    val bandRows = bandRowsOf(sigDf, sig, bands)
    val bandsB = bandRows.select($"b".as("b2"), $"k".as("k2"),
      $"doc_id".as("doc_id2"))
    val cand = bandRows
      .join(bandsB, $"b" === $"b2" && $"k" === $"k2" &&
        $"doc_id" < $"doc_id2")
      .select($"doc_id".as("d1"), $"doc_id2".as("d2")).distinct()
    val sigX = sigDf.toDF("d1" +: (0 until sig).map(i => s"x$i"): _*)
    val sigY = sigDf.toDF("d2" +: (0 until sig).map(i => s"y$i"): _*)
    val est = (0 until sig)
      .map(i => when(col(s"x$i") === col(s"y$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / sig
    cand.join(sigX, "d1").join(sigY, "d2")
      .filter(est >= 0.25)
      .select($"d1", $"d2", round(est, 6).as("est_sim"))
      .orderBy($"d1", $"d2")
  }

  /** RAG chunker geometry (x24): window size / stride in tokens. */
  private val ChunkSize = 32
  private val ChunkStride = 16

  /** x125 packing geometry: the training context window (tokens) and
    * the prefix-sum bucket COUNT bound. The bucket WIDTH derives from
    * max(doc_id) so the level-2 offsets table stays ≤ PackBuckets
    * rows at ANY corpus size — a fixed width would make it
    * corpus-proportional and un-broadcastable at 10^12 docs. */
  private val PackWindow = 512L
  private val PackBuckets = 4096L

  /** Per-language epoch repeat factors (x25); 0 drops the language. */
  private val MixtureWeights: Seq[(String, Int)] =
    Seq("en" -> 1, "de" -> 2, "es" -> 3, "fr" -> 4, "zh" -> 0)

  /** Rolling-hash modulus (x28) = the MinHash prime, so
    * [[TextExprs.shingleHashes]] doubles as the token-hash step. */
  private val TextExprsM: Long = T.MinhashP

  /** x30 "line" unit: span length in tokens (the corpus has no
    * newlines; a fixed token span plays the role of C4's line). */
  private val SpanLen = 16

  /** x88 Gopher character-coverage gates (ppm): most-common-2-gram
    * char share < 0.20 (the MassiveText value) and duplicated-3-gram
    * char coverage < 0.15 (MassiveText gates n = 5..10 at 0.15..0.10;
    * 3 is the n that carries signal on this corpus's short docs — the
    * n knob is a [[gopherCoverage]] parameter). Declared before the
    * qs map (oracle interpolation). */
  private val RepTop2MaxPpm = 200000L
  private val RepDupNMaxPpm = 150000L
  private val RepDupN = 3

  /** x89 heavy-hitter geometry: Misra-Gries state cap / threshold
    * divisor (report keys with exact count > n/HhK). Declared before
    * the qs map (oracle interpolation). */
  private val HhK = 32

  /** x31 decontamination key = first PrefK tokens; the reference set is
    * the docs from these sources (the stand-in benchmark corpus). */
  private val PrefK = 4
  private val RefSources = Seq("src0", "src1")
  private val RefSourcesSql = RefSources.map(s => s"'$s'").mkString(", ")

  /** x128 per-source boilerplate geometry: the template unit is a
    * token 3-gram (the corpus has no newlines, so CCNet's "line"
    * becomes a fixed n-gram, the x30 adaptation); a gram is
    * boilerplate for a source when it appears in >= BoilerMinDocs of
    * the source's docs AND in >= 10% of them (both gates exact
    * integers). Declared before the qs map (oracle interpolation). */
  private val BoilerN = 3
  private val BoilerMinDocs = 3
  private val BoilerMinPpm = 100000L

  /** x129 repeated-substring window width in tokens (the ExactSubstr
    * audit unit; Lee et al. 2022 use 50 BPE tokens on web text — 8
    * carries the same signal on this corpus's short docs). */
  private[graft] val SubstrW = 8

  /** x130 fuzzy-decontamination verify threshold: exact shingle
    * Jaccard >= 0.5 in ppm (Dolma flags paragraph overlap at lower
    * bars; doc-level fuzzy matches are near-exact dups, so 0.5 is
    * conservative AND every observed true match sits above 0.8). */
  private val FuzzyJaccMinPpm = 500000L

  /** x14 body. The vocabulary-side join strategy is left to AQE: the
    * df relation's true size exists only after its aggregation runs,
    * and AQE converts the shuffled term join to a broadcast join at
    * runtime when the BUILT vocabulary fits the broadcast threshold —
    * the same guard the previous explicit `df.count()` implemented,
    * with no extra job and no eager work at DataFrame-construction
    * time (a registry query must stay lazy). A web-scale vocabulary is
    * never forced into executor memory because nothing hints a
    * broadcast — ScaleGuardsSpec pins that by disabling auto-broadcast
    * and asserting the join degrades to a shuffled join with identical
    * results. No caches either: the tf subplan feeds both consumers
    * through one reused exchange, so repeated builds no longer
    * accumulate cached partitions. */
  private[graft] def tfidfTop5(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.spread(s, dir, "documents")
      .select($"doc_id", T.wsTokens(lower($"text")).as("tk"))
    val terms = docs.select($"doc_id", explode($"tk").as("term"))
    val tf = terms.groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
    // df via hash-agg: the partial (map-side) agg collapses tf to
    // vocabulary size before any exchange
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val sc = tf
      .join(df, "term")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"term",
        round($"tf" * log($"n_docs".cast("double") / $"df"), 6)
          .as("tfidf"))
    sc.withColumn("rn", row_number()
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"tfidf".desc, $"term"))
        .cast("long"))
      .filter($"rn" <= 5)
      .orderBy($"doc_id", $"rn")
  }

  /** x47 body: BM25 document ranking (the Robertson/Lucene formula —
    * the retrieval scorer between x14's tfidf and a trained ranker).
    * The query set is drawn from the corpus itself: each of docs 0..3
    * is a query whose terms are its distinct tokens, scored against
    * every OTHER document.
    *
    * Exactness discipline: the score is a SUM over query terms, and
    * float sums are partition-order-dependent — so each per-term
    * contribution is integerized FIRST (`floor(c*1e6 + 0.5)`, positive
    * contributions so midpoint-safe), making the groupBy sum exact-
    * integer and order-independent in both engines (x34/m3 convention).
    *
    * Scale shape: tf/df are the x14 aggregates (map-side partials
    * collapse to vocabulary size before any exchange); the postings
    * join is shuffle-on-term with the query list as the SMALL side
    * (AQE broadcasts it when it fits, same guard as x14's df join);
    * one final groupBy(qid, doc) + per-query window. No all-pairs
    * scan: only documents sharing a term with the query are scored —
    * exactly an inverted-index retrieval. */
  /** The BM25 building blocks shared by x47, x50's sparse arm, and
    * x61's PRF rounds: (tf, df, dl, corpus stats) frames. */
  /** The BM25 lexical frame: (doc_id, tk) lower-cased whitespace
    * tokens. ONE definition shared by the batch retrieval family and
    * the streaming index-maintenance twin. */
  private[graft] def tokenized(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select($"doc_id", T.wsTokens(lower($"text")).as("tk"))

  /** Per-term document frequency over a tokenized frame. Defined as a
    * direct per-doc-distinct explode + term count (NOT via the tf
    * table), so the partial aggregation collapses to vocabulary size
    * map-side with no (doc, term) exchange — and so the SAME expression
    * runs as an incremental streaming aggregation
    * ([[graft.streaming.SparseIndexStream]]), whose state is the
    * vocabulary-sized df table itself. */
  private[graft] def termDf(tk: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    tk.select(explode(array_distinct($"tk")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))

  /** Corpus totals (n_docs, sum_dl) over a tokenized frame — the other
    * half of the BM25 index statistics; 1-row aggregate, streamable
    * with 1-row state. */
  private[graft] def corpusTotals(tk: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    tk.select(size($"tk").cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"dl").cast("double").as("sum_dl"))

  private def bm25Parts(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val docs = tokenized(Tables.spread(s, dir, "documents"))
    val dl = docs.select($"doc_id", size($"tk").cast("long").as("dl"))
    val terms = docs.select($"doc_id", explode($"tk").as("term"))
    val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = termDf(docs)
    val st = corpusTotals(docs)
    (tf, df, dl, st)
  }

  /** Append the integerized BM25 term-doc contribution `ci` to a frame
    * carrying (tf, df, dl, n_docs, sum_dl). k1 = 1.2, b = 0.75; the
    * constants appear as the SAME decimal literals in the oracle
    * (never k1+1 computed — 1.2+1.0 need not round to the double
    * nearest 2.2). */
  private def withCi(joined: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = joined
    .withColumn("idf",
      log(((($"n_docs" - $"df") + lit(0.5)) / ($"df" + lit(0.5)))
        + lit(1.0)))
    .withColumn("nrm",
      lit(1.2) * (lit(0.25) + (lit(0.75) *
        ($"dl" / ($"sum_dl" / $"n_docs")))))
    .withColumn("ci",
      floor((($"idf" * (($"tf" * lit(2.2)) / ($"tf" + $"nrm"))))
        * lit(1000000.0) + lit(0.5)))

  private[graft] val SparseBuckets = 64

  /** Append one document batch to the PERSISTED sparse (BM25) index —
    * the x33/x35/ANN/graph incremental pattern applied to sparse
    * retrieval, completing the maintained-index matrix (band index,
    * ANN books+corpus, k-NN graph, sketches, and now postings).
    *
    * Layout: `sparse_postings` (batch, bucket) with bucket =
    * hash(term) mod [[SparseBuckets]] and the doc length DENORMALIZED
    * onto every posting row (the production inverted-index trick: the
    * scorer needs dl per candidate, and a separate corpus-sized dl
    * table would force a corpus join per query); `sparse_docs` is the
    * VERSION REGISTRY — one (batch, doc_id, dl) row per ingested doc,
    * bucketed on hash(doc_id) so a day's registry write parallelizes
    * like the postings write. The registry is what makes UPDATES
    * sound: re-ingesting a changed document in a later batch leaves
    * the old batch's postings physically in place, and the search
    * resolves latest-batch-wins per doc against the registry — df and
    * totals are DERIVED from the live set at query time (per-batch
    * partials cannot express "this doc's older copy no longer
    * counts", which is exactly how a partial-df design double-counts
    * updated docs). Delete-before-write per batch partition, so
    * replays are idempotent.
    *
    * The incremental economy: a day's append tokenizes only that
    * day's documents; a query reads only its terms' BUCKET directories
    * across batches plus the registry (≈1% the postings' size; one
    * row per live doc after [[compactSparseIndex]]) — history is
    * never re-tokenized, re-scanned corpus-wide, or reshuffled. */
  def appendSparseIndex(s: org.apache.spark.sql.SparkSession,
      batch: org.apache.spark.sql.DataFrame, batchId: Long,
      store: graft.store.Store): Unit = {
    // a replay of a batch id at or below the compaction horizon would
    // run this function's delete-before-write against the CONSOLIDATED
    // partition compaction folded the whole corpus into — silently
    // destroying every other doc in it. Fail loudly instead; the
    // horizon is persisted by [[compactSparseIndex]].
    graft.store.Horizon.requireAppendable(store, s, "sparse", batchId)
    // eager function with two writes over shared lineage: cache the
    // tokenized frame and the tf table so the batch is tokenized and
    // aggregated ONCE, not once per write (the incremental-economy
    // claim is per-day work = one pass over that day), and unpersist
    // before returning — this is not a lazy registry body.
    // Exact duplicate rows within the batch collapse (retries/replays
    // produce them); CONFLICTING versions of one doc_id within a
    // single batch fail loudly below — version order is the BATCH id,
    // so "latest" is undefined inside one batch and silently keeping
    // both copies would double-count the doc's postings and df.
    val docs = tokenized(batch.dropDuplicates("doc_id", "text")).cache()
    // positions ride the SAME (doc, term) rollup the tf counts use —
    // positional (phrase/proximity) search costs no extra pass or
    // exchange at build time, exactly Lucene's postings-with-positions
    // layout
    val tf = docs
      .select($"doc_id", size($"tk").cast("long").as("dl"),
        posexplode($"tk").as(Seq("pos", "term")))
      .groupBy($"doc_id", $"dl", $"term")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list($"pos".cast("long"))).as("positions"))
      .withColumn("bucket", pmod(xxhash64($"term"), lit(SparseBuckets)))
      .cache()
    try {
      require(docs.groupBy($"doc_id").count()
          .filter($"count" > 1).limit(1).count() == 0,
        s"batch $batchId carries conflicting versions of a doc_id; " +
          "within one batch 'latest' is undefined — resolve ordering " +
          "upstream (e.g. by sequence number) before appending")
      store.delete("sparse_postings", Seq("batch" -> batchId))
      store.write("sparse_postings",
        tf.select(lit(batchId).as("batch"), $"bucket", $"term",
          $"doc_id", $"tf", $"dl", $"positions"),
        Seq("batch", "bucket"))
      store.delete("sparse_docs", Seq("batch" -> batchId))
      store.write("sparse_docs",
        docs.select(lit(batchId).as("batch"),
          pmod(xxhash64($"doc_id"), lit(SparseBuckets)).as("dbucket"),
          $"doc_id", size($"tk").cast("long").as("dl")),
        Seq("batch", "dbucket"))
      // the FORWARD index (Lucene's term-vectors analog): the same tf
      // rollup, bucketed on hash(doc_id) instead of hash(term), so a
      // doc's term list is a bucket-pruned read — the axis the
      // inverted layout cannot serve (PRF feedback docs, snippets).
      // Same cached frame, one more write: the incremental economy
      // (per-day work = one pass over that day) holds.
      store.delete("sparse_forward", Seq("batch" -> batchId))
      store.write("sparse_forward",
        tf.select(lit(batchId).as("batch"),
          pmod(xxhash64($"doc_id"), lit(SparseBuckets)).as("dbucket"),
          $"doc_id", $"term", $"tf", $"dl"),
        Seq("batch", "dbucket"))
    } finally { tf.unpersist(); docs.unpersist() }
  }

  /** Tombstone-delete documents from the persisted sparse index — the
    * same metadata-row delete verb as the dense side's
    * [[VectorOps.tombstoneAnnVectors]]: deletes land as rows in a
    * `sparse_tombstones` entity partitioned by doc_id (re-deleting is
    * a per-id dynamic-partition overwrite — idempotent), the search
    * anti-joins them out at read time, and the postings are NEVER
    * rewritten — at 100 TB a delete is a metadata row, folded
    * physically by [[compactSparseIndex]] when the small-file
    * maintenance job runs anyway.
    *
    * A tombstone is VERSION-SCOPED: it kills versions up to `upto`
    * (default: the registry's max batch at call time — "delete as of
    * now"), so a legitimate LATER re-ingest of the same doc_id
    * becomes live again instead of being silently shadowed forever
    * (and then physically destroyed by compaction).
    *
    * Re-tombstoning a doc keeps the MAX of the existing and the new
    * `upto`: the per-doc dynamic-partition overwrite would otherwise
    * let a later call with a smaller watermark (e.g. the default
    * max-batch-now after an earlier explicitly-future delete) silently
    * NARROW the first delete's scope — a delete, once issued, must
    * never shrink. */
  def tombstoneSparseDocs(s: org.apache.spark.sql.SparkSession,
      ids: Seq[Long], store: graft.store.Store,
      uptoBatch: Long = -1L): Unit = {
    require(ids.nonEmpty, "tombstone call with no ids")
    val upto = if (uptoBatch >= 0L) uptoBatch else {
      val r = store.read("sparse_docs", s)
        .agg(max($"batch".cast("long"))).first()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
    // dedup BOTH merge sides: duplicate ids in the call (or duplicate
    // rows a prior such call left behind) would otherwise fan out in
    // the join and grow a doc's tombstone partition geometrically —
    // semantics would survive (liveOf's anti-join is multiplicity-
    // insensitive) but the partition would bloat
    val fresh = s.createDataFrame(ids.distinct.map(id => (id, upto)))
      .toDF("doc_id", "upto")
    val existing = try Some(store.read("sparse_tombstones", s)
        .groupBy($"doc_id".cast("long").as("edoc"))
        .agg(max($"upto".cast("long")).as("eupto")))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    val merged = existing.fold(fresh)(ex =>
      fresh.join(ex, fresh("doc_id") === ex("edoc"), "left")
        .select(fresh("doc_id"),
          greatest($"upto", coalesce($"eupto", lit(Long.MinValue)))
            .as("upto")))
    // materialize before the write: the merge READS the same per-doc
    // partitions the dynamic overwrite replaces
    store.write("sparse_tombstones", merged.localCheckpoint(true),
      Seq("doc_id"))
  }

  /** The live-version registry from a typed registry frame: latest
    * batch wins per doc_id; a doc whose live version falls at or
    * before a tombstone's `upto` watermark is removed (a version
    * ingested AFTER the watermark is a resurrection and stays live).
    * One row per LIVE doc — (doc_id, batch, dl). Shared by the stored
    * search (corpus totals) and compaction (the keep set).
    *
    * The tombstone read distinguishes entity-absent (AnalysisException
    * — nothing was ever deleted) from a FAILING read (I/O errors
    * propagate): swallowing every error here would silently serve
    * deleted documents. */
  private def liveOf(reg: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession, store: graft.store.Store)
      : org.apache.spark.sql.DataFrame = {
    val live0 = reg.groupBy($"doc_id")
      .agg(max(struct($"batch", $"dl")).as("m"))
      .select($"doc_id", $"m.batch".as("batch"), $"m.dl".as("dl"))
    val tomb = try Some(store.read("sparse_tombstones", s)
        .select($"doc_id".cast("long").as("tdoc"),
          $"upto".cast("long").as("upto")))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    tomb.fold(live0)(t => live0.join(t,
      live0("doc_id") === t("tdoc") && live0("batch") <= t("upto"),
      "left_anti"))
  }

  /** Snapshot (as-of) cut of a version-registry frame: keep versions
    * ingested at or before `asOfBatch` — the reproducibility verb (a
    * release manifest or eval run can be re-derived against the exact
    * index state a past batch saw). Tombstones deliberately still
    * apply ON TOP of the cut (see [[liveOf]]'s caller): a deleted
    * document must not resurface through a historical read — deletes
    * are compliance actions, retroactive by design. Both the registry
    * AND the postings read must take the same cut: a post-cut posting
    * row is invisible to the registry, so the stale-key anti-join
    * alone could never remove it. Snapshots reach back only to the
    * compaction horizon — [[compactSparseIndex]] physically destroys
    * superseded versions, so reads below it fail loudly
    * ([[requireAboveHorizon]]) rather than serve compacted state
    * under an old batch id. */
  private def asOf(reg: org.apache.spark.sql.DataFrame,
      asOfBatch: Long): org.apache.spark.sql.DataFrame =
    if (asOfBatch == Long.MaxValue) reg
    else reg.filter($"batch" <= asOfBatch)

  /** Loud snapshot-horizon guard: [[compactSparseIndex]] physically
    * destroys superseded versions (and relabels survivors to the
    * newest folded batch), so a snapshot BELOW the oldest registry
    * batch cannot be served truthfully — the index no longer holds
    * that history. Failing beats silently returning the compacted
    * (newer) state under an old batch id, or an empty result. One
    * bounded action (a registry min), paid only by explicit as-of
    * reads. */
  private def requireAboveHorizon(
      reg: org.apache.spark.sql.DataFrame, asOfBatch: Long): Unit =
    if (asOfBatch != Long.MaxValue) {
      val h = reg.agg(min($"batch".cast("long"))).first()
      require(h.isNullAt(0) || asOfBatch >= h.getLong(0),
        s"as-of batch $asOfBatch is below the snapshot horizon " +
          s"${h.getLong(0)}: versions before it were physically " +
          "folded by compaction (or never ingested) and cannot be " +
          "served")
    }

  /** Keys of DEAD posting rows — (doc_id, batch) of superseded
    * versions plus every version of a tombstoned doc. This is the
    * frame the search and compaction anti-join against, and the
    * reason version resolution scales: its size is the number of
    * updates/deletes since the last compaction (tiny in the
    * append-mostly common case, ZERO right after compaction), so the
    * postings side joins against an AQE-broadcastable sliver and
    * never reshuffles — an inner join with the LIVE registry instead
    * would shuffle corpus-sized inputs on every query. */
  private def staleSparseKeys(reg: org.apache.spark.sql.DataFrame,
      live: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    reg.select($"doc_id", $"batch")
      .join(live.select($"doc_id", $"batch"), Seq("doc_id", "batch"),
        "left_anti")

  /** Exact BM25 over the persisted index for a bounded query set
    * (qid → term list): postings are read ONLY for the queried terms'
    * buckets (directory-pruned within every batch partition), then
    * resolved against the version registry — an anti-join against
    * the [[staleSparseKeys]] sliver — so a doc
    * re-ingested in a later batch scores exactly once, from its
    * LATEST version, and tombstoned docs never score
    * (StoreSpec pins stored search over an update history
    * row-identical to a one-shot over the latest versions). df for
    * the queried terms and the corpus totals are derived from the
    * live set (a term's postings all live in its bucket, so the
    * bucket-pruned read IS the term's full live posting list); the
    * scoring expression is the SAME [[withCi]] the one-shot x47 uses.
    * `excludeSelf` drops doc_id == qid rows (the registry query
    * convention where queries ARE corpus docs).
    *
    * Cost model: the one corpus-proportional input is the REGISTRY
    * pass behind totals/stale-keys — thin (3 columns/doc, ~1% of a
    * postings scan), amortized across the whole query set of a call,
    * and collapsed to one row per live doc by [[compactSparseIndex]];
    * the postings side reads only the queried buckets and never
    * reshuffles. */
  def bm25SearchStored(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, queries: Seq[(Long, Seq[String])],
      k: Int = 5, excludeSelf: Boolean = true,
      asOfBatch: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame = {
    require(queries.nonEmpty, "stored BM25 search needs queries")
    bm25RankStored(s, s.createDataFrame(
        queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("qid", "term"), store, k, excludeSelf, asOfBatch)
  }

  /** The frame-based core of [[bm25SearchStored]] — the (qid, term)
    * side may be a COMPUTED relation (the PRF round-2 expansion), so
    * it is pinned once (it feeds the bucket collect, the term
    * semi-join, and the candidate join) and deduplicated. */
  /** The registry/live/stale frame triple every stored read resolves
    * versions against — one builder so a multi-stage stored verb
    * (stored MaxSim: shortlist then forward read) constructs it ONCE
    * and shares the frames across its stages instead of rebuilding
    * the corpus-thin registry chain per stage. */
  private def sparseLiveState(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, asOfBatch: Long)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val reg0 = store.read("sparse_docs", s)
      .select($"batch".cast("long").as("batch"), $"doc_id", $"dl")
    requireAboveHorizon(reg0, asOfBatch)
    val reg = asOf(reg0, asOfBatch)
    val live = liveOf(reg, s, store)
    (reg, live, staleSparseKeys(reg, live))
  }

  private def bm25RankStored(s: org.apache.spark.sql.SparkSession,
      qt0: org.apache.spark.sql.DataFrame, store: graft.store.Store,
      k: Int, excludeSelf: Boolean, asOfBatch: Long,
      state: Option[(org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qt = qt0.distinct()
      .withColumn("bucket", pmod(xxhash64($"term"), lit(SparseBuckets)))
      .localCheckpoint(true)
    // bounded collect: ≤ |distinct query terms| bucket ids
    val qb = qt.select($"bucket").distinct().collect().map(_.getLong(0))
    val (_, live, stale) =
      state.getOrElse(sparseLiveState(s, store, asOfBatch))
    // corpus statistics over the LIVE set: exact under updates and
    // deletes, where summed per-batch partials double-count — the
    // registry scan is ~1% of a postings scan and collapses to one
    // row per doc after compaction
    val tot = live.agg(count(lit(1)).as("n_docs"),
      sum($"dl").cast("double").as("sum_dl"))
    // version resolution as an ANTI-join against the stale sliver:
    // the bucket-pruned postings never reshuffle, and the join side
    // is updates-sized, not corpus-sized (see staleSparseKeys)
    val post = asOf(store.read("sparse_postings", s)
        .filter($"bucket".isin(qb.toIndexedSeq.map(Long.box): _*))
        .select($"batch".cast("long").as("batch"), $"term", $"doc_id",
          $"tf", $"dl"), asOfBatch)
      .join(stale, Seq("doc_id", "batch"), "left_anti")
    // all LIVE postings of the queried terms: candidate rows AND the
    // terms' exact document frequencies come from this one frame
    val tpost = post
      .join(broadcast(qt.select($"term").distinct()), "term")
    val dfq = tpost.groupBy($"term").agg(count(lit(1)).as("df"))
    val cand = tpost.join(broadcast(qt.select($"qid", $"term")), "term")
    val scored = withCi(
      (if (excludeSelf) cand.filter($"doc_id" =!= $"qid") else cand)
        .join(dfq, "term")
        .crossJoin(broadcast(tot)))
      .groupBy($"qid", $"doc_id").agg(sum($"ci").as("bm25"))
    scored.withColumn("rn", row_number().over(Window
        .partitionBy($"qid").orderBy($"bm25".desc, $"doc_id"))
        .cast("long"))
      .filter($"rn" <= k)
      .orderBy($"qid", $"rn")
  }

  /** One-shot exact BM25 over an arbitrary documents frame with an
    * explicit query set — the spec's independent twin for
    * [[bm25SearchStored]]: same [[withCi]] arithmetic, frames built
    * directly from the given docs (so "stored search over an update
    * history" can be pinned row-identical to "one-shot over the
    * latest versions"). */
  private[graft] def bm25SearchOver(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int = 5,
      excludeSelf: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tkd = tokenized(docs)
    val tf = tkd
      .select($"doc_id", size($"tk").cast("long").as("dl"),
        explode($"tk").as("term"))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
    val dfr = termDf(tkd)
    val tot = corpusTotals(tkd)
    val qt = s.createDataFrame(
        queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("qid", "term")
    val cand = tf.join(broadcast(qt), "term")
    val scored = withCi(
      (if (excludeSelf) cand.filter($"doc_id" =!= $"qid") else cand)
        .join(dfr, "term")
        .crossJoin(broadcast(tot)))
      .groupBy($"qid", $"doc_id").agg(sum($"ci").as("bm25"))
    scored.withColumn("rn", row_number().over(Window
        .partitionBy($"qid").orderBy($"bm25".desc, $"doc_id"))
        .cast("long"))
      .filter($"rn" <= k)
      .orderBy($"qid", $"rn")
  }

  /** Compact the persisted sparse index: fold every batch partition
    * into ONE consolidated batch keeping each doc's LATEST version
    * only, and fold tombstones physically — the
    * [[VectorOps.compactAnnCorpus]] staging discipline applied to
    * postings. After compaction the registry holds one row per live
    * doc and a search's version-resolution join degenerates to a
    * same-size equi-join; the batch-per-day small-file tax is gone.
    * At no point does a write read the files it replaces (the
    * consolidated copy lands in staging entities first, then source
    * partitions drop, then staged rows move into place). Run as the
    * index's offline maintenance job, not under a concurrent
    * writer. */
  def compactSparseIndex(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, intoBatch: Long = -1L): Unit = {
    // crash recovery FIRST: a prior compaction that staged its
    // consolidated copy and then died mid-move left the stage holding
    // the only complete index — roll that move forward before reading
    // main state (which may be partially deleted)
    graft.store.StagedFold.rollForward(store, s, "sparse",
      sparseFoldEntities, retireAfterFold(s, store))
    val reg = store.read("sparse_docs", s)
    // bounded collects: one row per ingested batch; tombstone presence
    val batches = reg.select($"batch".cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    // Compaction physically destroys superseded versions, so it IS
    // the as-of snapshot horizon: surviving rows must be relabeled to
    // a batch AT OR ABOVE everything folded (default: the newest
    // folded batch — "the live state as of the newest batch", which
    // stays a TRUE statement). Folding DOWNWARD would present
    // post-update state under a pre-update batch id and silently
    // corrupt every later snapshot cut; the searches' horizon guard
    // could no longer detect it.
    val into =
      if (intoBatch >= 0L) intoBatch else batches.lastOption.getOrElse(0L)
    require(batches.isEmpty || into >= batches.last,
      s"intoBatch $into is below the newest folded batch " +
        s"${batches.last}: relabeling versions backwards would " +
        "corrupt as-of snapshot reads")
    // entity-absent only — a FAILING tombstone read must abort the
    // compaction loudly (liveOf's discipline), not silently no-op as
    // "already compact" or skip the retirement below
    val hasTomb =
      try store.read("sparse_tombstones", s).limit(1).count() > 0
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    if (batches.length <= 1 &&
      batches.headOption.forall(_ == into) && !hasTomb)
      return // already compact
    val regT = reg
      .select($"batch".cast("long").as("batch"), $"doc_id", $"dl")
    val live = liveOf(regT, s, store)
    // the postings fold anti-joins the updates-sized stale sliver
    // (never an inner join with the corpus-sized registry), so the
    // only corpus-wide movement is the rewrite itself. The staged
    // swap (stage writes → intent marker → move, crash rolled forward
    // by the probe above) is the shared [[graft.store.StagedFold]]
    // discipline; tombstone retirement re-runs after the move in both
    // the normal and the recovery path.
    // the forward index folds through the SAME move; a store written
    // before the forward index existed simply has no such entity —
    // its fold list shrinks (and StagedFold.move tolerates the
    // missing stage on recovery)
    val fwdStage =
      try Some(sparseFoldEntities(2) ->
        store.read("sparse_forward", s)
          .select($"batch".cast("long").as("batch"),
            $"dbucket".cast("long").as("dbucket"), $"doc_id",
            $"term", $"tf", $"dl")
          .join(staleSparseKeys(regT, live), Seq("doc_id", "batch"),
            "left_anti")
          .select(lit(into).as("batch"), $"dbucket", $"doc_id",
            $"term", $"tf", $"dl"))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    graft.store.StagedFold.run(store, s, "sparse", Seq(
      sparseFoldEntities(0) ->
        store.read("sparse_postings", s)
          .select($"batch".cast("long").as("batch"),
            $"bucket".cast("long").as("bucket"), $"term", $"doc_id",
            $"tf", $"dl", $"positions")
          .join(staleSparseKeys(regT, live), Seq("doc_id", "batch"),
            "left_anti")
          .select(lit(into).as("batch"), $"bucket", $"term",
            $"doc_id", $"tf", $"dl", $"positions"),
      sparseFoldEntities(1) ->
        live.select(lit(into).as("batch"),
          pmod(xxhash64($"doc_id"), lit(SparseBuckets)).as("dbucket"),
          $"doc_id", $"dl")) ++ fwdStage,
      horizon = into, after = retireAfterFold(s, store))
  }

  /** The sparse index's folded entities, with the stage→main recasts
    * (partition columns come back from directory inference with
    * narrowed types). */
  private def sparseFoldEntities: Seq[graft.store.FoldEntity] = Seq(
    graft.store.FoldEntity("sparse_postings", Seq("batch", "bucket"),
      df => df.withColumn("batch", $"batch".cast("long"))
        .withColumn("bucket", $"bucket".cast("long"))),
    graft.store.FoldEntity("sparse_docs", Seq("batch", "dbucket"),
      df => df.withColumn("batch", $"batch".cast("long"))
        .withColumn("dbucket", $"dbucket".cast("long"))),
    graft.store.FoldEntity("sparse_forward", Seq("batch", "dbucket"),
      df => df.withColumn("batch", $"batch".cast("long"))
        .withColumn("dbucket", $"dbucket".cast("long"))))

  /** Post-fold step shared by the normal and crash-recovery paths:
    * retire the tombstones the fold physically applied (keeping
    * forward-shadowing ones — see [[retireFoldedTombstones]]). */
  private def retireAfterFold(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store): Long => Unit = { into =>
    val hasTomb =
      try store.read("sparse_tombstones", s).limit(1).count() > 0
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    if (hasTomb) retireFoldedTombstones(s, store, into)
  }

  /** Retire tombstones compaction has fully folded (upto ≤ the folded
    * horizon); a tombstone whose explicit `upto` still reaches PAST
    * the horizon keeps its forward-shadowing effect on batches yet to
    * be ingested — dropping it (the old behavior) silently resurrected
    * the doc on the next append below its watermark. */
  private def retireFoldedTombstones(
      s: org.apache.spark.sql.SparkSession, store: graft.store.Store,
      into: Long): Unit = {
    val keep = store.read("sparse_tombstones", s)
      .select($"doc_id".cast("long").as("doc_id"),
        $"upto".cast("long").as("upto"))
      .filter($"upto" > into)
      .localCheckpoint(true) // materialize before deleting its source
    store.delete("sparse_tombstones", Seq.empty)
    if (keep.limit(1).count() > 0)
      store.write("sparse_tombstones", keep, Seq("doc_id"))
  }

  /** The unranked (qid, doc_id, bm25) score relation — the x47 core,
    * shared by the rank query below and x111's exclusion-then-rank.
    * `qMax` widens the query set past the registry's pinned 4 (spec
    * use: exercising exclusion on queries that HAVE near-dups). */
  private[graft] def bm25Scores(s: org.apache.spark.sql.SparkSession,
      dir: String, qMax: Long = 4L): org.apache.spark.sql.DataFrame = {
    val (tf, df, dl, st) = bm25Parts(s, dir)
    val qt = tf.filter($"doc_id" < qMax)
      .select($"doc_id".as("qid"), $"term")
    val contrib = withCi(tf.join(qt, "term").filter($"doc_id" =!= $"qid")
      .join(df, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st)))
    contrib.groupBy($"qid", $"doc_id")
      .agg(sum($"ci").as("bm25"))
  }

  private[graft] def bm25TopK(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = 5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bm25Scores(s, dir)
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"bm25".desc, $"doc_id")).cast("long"))
      .filter($"rn" <= k)
      .orderBy($"qid", $"rn")
  }

  /** x119 body: query-likelihood retrieval with Dirichlet smoothing —
    * the main published alternative to BM25's tf-saturation model
    * (Zhai & Lafferty 2001; Lucene ships it as LMDirichletSimilarity,
    * whose matched-term decomposition this follows so the scorer stays
    * inverted-index shaped): a matched (query term, doc) posting
    * contributes ln(1 + tf / (μ·P(t|C))) + ln(μ / (dl + μ)) with the
    * collection model P(t|C) = ctf / |C|. Only MATCHING postings
    * score — exactly the candidate generation x47 uses — so the plan
    * is the same audited shape: posting equi-joins, a 1-row collection
    * -totals broadcast cross, one (qid, doc) rollup. Contributions are
    * micro-integerized BEFORE the sum (x47's discipline) so the score
    * aggregation is order-independent exact integers in both engines.
    * μ = 2000, Lucene's default. */
  private[graft] def lmDirichletTopK(
      s: org.apache.spark.sql.SparkSession, dir: String, k: Int = 5)
      : org.apache.spark.sql.DataFrame = {
    val (tf, _, dl, _) = bm25Parts(s, dir)
    val ctf = tf.groupBy($"term").agg(sum($"tf").as("ctf"))
    val cl = dl.agg(sum($"dl").cast("double").as("c_len"))
    val qt = tf.filter($"doc_id" < 4)
      .select($"doc_id".as("qid"), $"term")
    lmRank(tf.join(qt, "term").filter($"doc_id" =!= $"qid")
      .join(ctf, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(cl)), k)
  }

  /** The integerized LMDirichlet contribution + (qid, doc) rollup +
    * rank, over a candidate frame carrying (qid, doc_id, tf, ctf, dl,
    * c_len) — ONE scorer for the three x119 entry points so the
    * arithmetic cannot drift between the corpus scan, the one-shot
    * twin, and the stored search. */
  private def lmRank(cand: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ci = floor((log(lit(1.0)
        + $"tf" / (lit(2000.0) * ($"ctf" / $"c_len")))
        + log(lit(2000.0) / ($"dl" + lit(2000.0))))
        * 1000000.0 + 0.5).cast("long")
    cand.withColumn("ci", ci)
      .groupBy($"qid", $"doc_id").agg(sum($"ci").as("ql"))
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"ql".desc, $"doc_id")).cast("long"))
      .filter($"rn" <= k)
      .orderBy($"qid", $"rn")
  }

  /** One-shot LMDirichlet retrieval over an arbitrary documents frame
    * with an explicit query set — the spec's independent twin for
    * [[lmDirichletStored]]. Collection statistics (ctf, |C|) come
    * from the given frame, exactly as the stored path derives them
    * from the live registry. */
  private[graft] def lmDirichletOver(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int = 5,
      excludeSelf: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(queries.nonEmpty, "LM retrieval needs queries")
    val tkd = tokenized(docs)
    val tf = tkd.select($"doc_id", explode($"tk").as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dl = tkd.select($"doc_id", size($"tk").cast("long").as("dl"))
    val ctf = tf.groupBy($"term").agg(sum($"tf").as("ctf"))
    val cl = dl.agg(sum($"dl").cast("double").as("c_len"))
    val qt = s.createDataFrame(
        queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("qid", "term")
    val cand = tf.join(broadcast(qt), "term")
    lmRank((if (excludeSelf) cand.filter($"doc_id" =!= $"qid") else cand)
      .join(ctf, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(cl)), k)
  }

  /** LMDirichlet retrieval over the PERSISTED sparse index — the
    * stored twin of x119, sharing [[bm25SearchStored]]'s exact plumb:
    * postings read ONLY for the queried terms' buckets, versions
    * resolved against the [[staleSparseKeys]] sliver, the same as-of
    * cut on registry AND postings. Collection statistics are LIVE
    * statistics: |C| = Σ dl over the live registry (the one thin
    * corpus-proportional pass, shared shape with BM25's totals), and
    * a queried term's ctf = the sum of its live postings' stored tf
    * partials — a term's postings all live in its bucket, so the
    * bucket-pruned read IS the term's full live posting list and ctf
    * needs no extra scan. */
  def lmDirichletStored(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, queries: Seq[(Long, Seq[String])],
      k: Int = 5, excludeSelf: Boolean = true,
      asOfBatch: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame = {
    require(queries.nonEmpty, "stored LM retrieval needs queries")
    val qt = s.createDataFrame(
        queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("qid", "term")
      .withColumn("bucket", pmod(xxhash64($"term"), lit(SparseBuckets)))
    // bounded collect: ≤ |distinct query terms| bucket ids
    val qb = qt.select($"bucket").distinct().collect().map(_.getLong(0))
    val reg0 = store.read("sparse_docs", s)
      .select($"batch".cast("long").as("batch"), $"doc_id", $"dl")
    requireAboveHorizon(reg0, asOfBatch)
    val reg = asOf(reg0, asOfBatch)
    val live = liveOf(reg, s, store)
    val cl = live.agg(sum($"dl").cast("double").as("c_len"))
    val tpost = asOf(store.read("sparse_postings", s)
        .filter($"bucket".isin(qb.toIndexedSeq.map(Long.box): _*))
        .select($"batch".cast("long").as("batch"), $"term", $"doc_id",
          $"tf", $"dl"), asOfBatch)
      .join(staleSparseKeys(reg, live), Seq("doc_id", "batch"),
        "left_anti")
      .join(broadcast(qt.select($"term").distinct()), "term")
    val ctf = tpost.groupBy($"term").agg(sum($"tf").as("ctf"))
    val cand = tpost.join(broadcast(qt.select($"qid", $"term")), "term")
    lmRank((if (excludeSelf) cand.filter($"doc_id" =!= $"qid") else cand)
      .join(ctf, "term")
      .crossJoin(broadcast(cl)), k)
  }

  /** x118 body: late-interaction (ColBERT MaxSim) reranking — the
    * fourth retrieval-stage family member beside bag-of-words scoring
    * (x47/x75), positional matching (x113/x117), and cross-encoder
    * reranking (x110). ColBERT (Khattab & Zaharia 2020) scores a
    * candidate as Σ over query tokens of the MAX similarity against
    * any document token — soft per-token semantic matching, far
    * cheaper than a cross-encoder (no joint pair encoding), and
    * production stacks deploy it exactly here: rerank a cheap
    * shortlist. One exact identity makes it relational: similarity
    * depends only on the TERM STRING, so the max over a document's
    * token OCCURRENCES equals the max over its DISTINCT terms — the
    * scorer runs on the (doc, term) relation, never the token stream.
    *
    * Token embeddings are a deterministic stand-in (`dims` md5-derived
    * integer components in [-1000, 1000]; a trained token embedder
    * swaps in through the same (term → vector) relation), so every
    * engine derives identical vectors and the oracle replays
    * embedding, dot, max, and sum — exact integers end to end.
    *
    * Scale shape: the corpus-sized work is x47's already-audited
    * retrieval; everything downstream is SHORTLIST-bounded
    * (queries × shortK docs). The embedding relation covers only the
    * shortlist docs' distinct terms plus the query terms, the
    * query-side of the pair join is broadcast, and the MaxSim rollup
    * exchanges pair-sized (qid, doc, qterm) rows only. */
  private[graft] def lateInteractionRerank(
      s: org.apache.spark.sql.SparkSession, dir: String,
      k: Int = 5, shortK: Int = 20, dims: Int = 8)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (tf, df, dl, st) = bm25Parts(s, dir)
    // NOT cached: materializing the corpus-wide (doc, term, tf) rollup
    // costs more than the one recompute it saves, and the in-memory
    // relation blocks the parquet doc_id<4 pushdown the query-term
    // scan relies on (measured: cache 12.8 s vs lazy 2.8 s warm at
    // sf0.1). The two corpus passes left (shortlist scoring, shortlist
    // -doc terms) each prune columns at the scan.
    val qterms = tf.filter($"doc_id" < 4)
      .select($"doc_id".as("qid"), $"term")
    // x47's scoring inline over the SAME frames (identical arithmetic
    // and rank order to bm25TopK, which the oracle's bmr CTE mirrors)
    val shortlist = withCi(tf.join(qterms, "term")
        .filter($"doc_id" =!= $"qid")
        .join(df, "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(st)))
      .groupBy($"qid", $"doc_id").agg(sum($"ci").as("bm25"))
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"bm25".desc, $"doc_id")))
      .filter($"rn" <= shortK)
      .select($"qid", $"doc_id")
    val docsNeeded = shortlist.select($"doc_id").distinct()
    val dterms = tf.join(broadcast(docsNeeded), Seq("doc_id"))
      .select($"doc_id", $"term")
    maxSimRank(shortlist, qterms, dterms, k, dims)
  }

  /** The MaxSim core shared by the three x118 entry points (corpus
    * scan, [[lateInteractionOver]], [[lateInteractionStored]]) — ONE
    * definition of the embedding derivation and the max/sum/rank
    * rollup so the arithmetic cannot drift between them. `shortlist`
    * is (qid, doc_id) candidate pairs; `qt` is (qid, term) query
    * slots; `dterms` is the shortlist docs' DISTINCT (doc_id, term)
    * relation (MaxSim over occurrences equals MaxSim over distinct
    * terms — the identity that makes the scorer relational). */
  private def maxSimRank(shortlist: org.apache.spark.sql.DataFrame,
      qt: org.apache.spark.sql.DataFrame,
      dterms: org.apache.spark.sql.DataFrame, k: Int, dims: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def embOf(term: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(dims - 1)),
        j => T.md5Long(concat(term, lit(":"), j.cast("string")))
          % 2001 - 1000)
    val emb = dterms.select($"term").union(qt.select($"term"))
      .distinct()
      .select($"term", embOf($"term").as("e"))
    val qe = qt.join(emb, "term")
      .select($"qid", $"term".as("qterm"), $"e".as("qe"))
    val de = dterms.join(emb, "term")
      .select($"doc_id", $"e".as("de"))
    val pairs = shortlist
      .join(broadcast(qe), "qid")
      .join(de, "doc_id")
    val dp = aggregate(zip_with($"qe", $"de", (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)
    pairs.select($"qid", $"doc_id", $"qterm", dp.as("dp"))
      .groupBy($"qid", $"doc_id", $"qterm").agg(max($"dp").as("ms"))
      .groupBy($"qid", $"doc_id").agg(sum($"ms").as("li"))
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"li".desc, $"doc_id")).cast("long"))
      .filter($"rn" <= k)
      .orderBy($"qid", $"rn")
  }

  /** One-shot late-interaction reranking over an arbitrary documents
    * frame with an explicit query set — the spec's independent twin
    * for [[lateInteractionStored]]: BM25 shortlist via
    * [[bm25SearchOver]], shortlist-doc terms from the given frame,
    * the same [[maxSimRank]] core. */
  private[graft] def lateInteractionOver(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int = 5, shortK: Int = 20,
      dims: Int = 8): org.apache.spark.sql.DataFrame = {
    require(queries.nonEmpty, "late-interaction needs queries")
    val shortlist = bm25SearchOver(s, docs, queries, shortK)
      .select($"qid", $"doc_id")
    val qt = s.createDataFrame(
        queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("qid", "term")
    val docsNeeded = shortlist.select($"doc_id").distinct()
    val dterms = tokenized(docs)
      .select($"doc_id", explode($"tk").as("term")).distinct()
      .join(broadcast(docsNeeded), Seq("doc_id"))
    maxSimRank(shortlist, qt, dterms, k, dims)
  }

  /** Late-interaction (ColBERT MaxSim) reranking over the PERSISTED
    * sparse index — x118's stored twin, the last retrieval scorer to
    * gain a served-from-the-index path (BM25, phrase, proximity,
    * LM Dirichlet, and PRF already have theirs). The shortlist is
    * [[bm25RankStored]] (bucket-pruned postings, live statistics);
    * the shortlist docs' term lists come from the FORWARD index
    * (`sparse_forward`, bucketed on hash(doc_id) — MaxSim needs
    * exactly the (doc, term) rows of ≤ queries×shortK docs, so the
    * dbucket-pruned read touches a bounded sliver of the index, never
    * the corpus), version-resolved against the [[staleSparseKeys]]
    * sliver and cut at the same as-of as every stored read. A doc
    * re-ingested with new text reranks on its LATEST terms only;
    * tombstoned docs neither shortlist nor rerank; snapshots
    * reproduce any past reranking down to the compaction horizon.
    *
    * Bounded collect: the shortlist ids' dbucket ids (≤ q×shortK). */
  def lateInteractionStored(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, queries: Seq[(Long, Seq[String])],
      k: Int = 5, shortK: Int = 20, dims: Int = 8,
      asOfBatch: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame = {
    require(queries.nonEmpty, "stored late-interaction needs queries")
    val qt = s.createDataFrame(
        queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("qid", "term")
    // ONE registry/live/stale construction shared by the shortlist
    // and the forward read (the two stages still execute as two
    // actions — the shortlist checkpoint is what bounds the dbucket
    // collect — but they share frames, not rebuilt chains)
    val state = sparseLiveState(s, store, asOfBatch)
    // pinned: the shortlist feeds the dbucket collect, the docsNeeded
    // broadcast, and the MaxSim pair join (the eager horizon check
    // ran inside sparseLiveState)
    val shortlist = bm25RankStored(s, qt, store, shortK,
        excludeSelf = true, asOfBatch, Some(state))
      .select($"qid", $"doc_id")
      .localCheckpoint(true)
    // bounded collect: the shortlist docs' dbucket ids (≤ q×shortK)
    val dbs = shortlist
      .select(pmod(xxhash64($"doc_id"), lit(SparseBuckets)).as("db"))
      .distinct().collect().map(_.getLong(0)).toIndexedSeq
    val docsNeeded = shortlist.select($"doc_id").distinct()
    val dterms = asOf(store.read("sparse_forward", s)
        .filter($"dbucket".isin(dbs.map(Long.box): _*))
        .select($"batch".cast("long").as("batch"), $"doc_id",
          $"term"), asOfBatch)
      .join(state._3, Seq("doc_id", "batch"), "left_anti")
      .join(broadcast(docsNeeded), Seq("doc_id"))
      .select($"doc_id", $"term")
    maxSimRank(shortlist, qt, dterms, k, dims)
  }

  /** x113 body: exact positional phrase search — Lucene PhraseQuery
    * (slop 0) semantics, the retrieval verb the BM25 stack (x47 bag-
    * of-words, x75 WAND, x61 PRF, x110 rerank) cannot express because
    * none of them see token ORDER. Queries are the first `plen` tokens
    * of docs 0..3 (qid = doc_id; a query doc shorter than `plen`
    * matches nothing). A document matches once per anchor position
    * `a` with token[a + i] == phrase[i] for ALL i — overlapping
    * occurrences each count (phrase "a a" occurs twice in "a a a").
    *
    * Scale shape — the standard two-stage positional intersection:
    * stage 1 is a CONJUNCTIVE candidate prune on the distinct
    * (doc, term) relation (Lucene's conjunction scorer): only
    * documents containing ALL distinct phrase terms proceed, so the
    * positional stage never shuffles the corpus-wide occurrence list
    * of a stop-wordy phrase term for documents that cannot match.
    * Stage 2 joins token positions to the broadcast (≤ queries×plen
    * rows) phrase side and groups by the implied anchor (pos − idx):
    * an anchor holding all `plen` distinct phrase indices is one
    * occurrence (countDistinct, so a term repeated WITHIN the phrase
    * cannot double-satisfy an index). Everything is a keyed equi-join
    * against a broadcast query side — no all-pairs work, and the only
    * corpus-sized exchange is the per-candidate-doc anchor rollup. */
  private[graft] def phraseSearch(s: org.apache.spark.sql.SparkSession,
      dir: String, plen: Int = 3, k: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    val tk = tokenized(Tables.spread(s, dir, "documents"))
    val pos = tk.select($"doc_id",
      posexplode($"tk").as(Seq("pos", "term")))
    val qp = tk.filter($"doc_id" < 4 && size($"tk") >= plen)
      .select($"doc_id".as("qid"),
        posexplode(slice($"tk", 1, plen)).as(Seq("idx", "term")))
    phraseOccurrences(pos, qp, plen, k)
  }

  /** The positional-intersection core shared by the three phrase
    * entry points (x113's corpus scan, [[phraseSearchOver]],
    * [[phraseSearchStored]]): conjunctive candidate prune on the
    * distinct (doc, term) relation, then anchor-grouped intersection.
    * `pos` is (doc_id, pos, term) token positions; `qp` is
    * (qid, idx, term) phrase slots — both position bases cancel in
    * the (pos − idx) anchor. */
  private def phraseOccurrences(pos: org.apache.spark.sql.DataFrame,
      qp: org.apache.spark.sql.DataFrame, plen: Int, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val need = qp.groupBy($"qid").agg(countDistinct($"term").as("nt"))
    val cand = pos.select($"doc_id", $"term").distinct()
      .join(broadcast(qp.select($"qid", $"term").distinct()), "term")
      .groupBy($"qid", $"doc_id").agg(count(lit(1)).as("hit"))
      .join(broadcast(need), "qid")
      .filter($"hit" === $"nt")
      .select($"qid", $"doc_id")
    val hits = pos.join(broadcast(qp), "term")
      .join(cand, Seq("qid", "doc_id"))
      .select($"qid", $"doc_id", ($"pos" - $"idx").as("anchor"), $"idx")
    hits.groupBy($"qid", $"doc_id", $"anchor")
      .agg(countDistinct($"idx").as("ni"))
      .filter($"ni" === plen)
      .groupBy($"qid", $"doc_id").agg(count(lit(1)).as("n_occ"))
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"n_occ".desc, $"doc_id")).cast("long"))
      .filter($"rn" <= k)
      .orderBy($"qid", $"rn")
  }

  /** x117 body: proximity ranking — the relevance signal BETWEEN
    * bag-of-words BM25 (no order at all) and exact phrase (rigid
    * order): candidate documents ranked by the length of the SMALLEST
    * window containing every distinct query term in any order
    * (Lucene's sloppy-phrase distance, Clarke et al.'s cover
    * semantics). Queries are the distinct terms of each query doc's
    * first `plen` tokens, slotted by lexicographic rank (a
    * deterministic slot id both engines derive identically — never
    * list_distinct order, which DuckDB does not define).
    *
    * The min-window is the classic one-pass sweep, restated
    * relationally: over each candidate doc's query-term positions in
    * position order, keep a running max of the LAST position of each
    * slot; once every slot has been seen, (pos − min(slot maxima) + 1)
    * is the smallest window ENDING at this position, and the min over
    * rows is the smallest window overall — O(occurrences) work, never
    * the positions^nt cross-join of the naive formulation. Scale
    * shape: conjunctive candidate prune first (only docs with ALL
    * terms reach the sweep), the sweep's window exchange is keyed on
    * (qid, doc) over candidate occurrences only. */
  private[graft] def proximityRank(s: org.apache.spark.sql.SparkSession,
      dir: String, plen: Int = 3, k: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = tokenized(Tables.spread(s, dir, "documents"))
    val pos = tk.select($"doc_id",
      posexplode($"tk").as(Seq("pos", "term")))
    val qp = tk.filter($"doc_id" < 4 && size($"tk") >= plen)
      .select($"doc_id".as("qid"),
        explode(array_distinct(slice($"tk", 1, plen))).as("term"))
      .withColumn("idx", row_number().over(
        Window.partitionBy($"qid").orderBy($"term")))
    proximityWindows(pos, qp, plen, k)
  }

  /** The min-cover sweep shared by the three proximity entry points
    * (x117's corpus scan, [[proximityRankOver]],
    * [[proximityRankStored]]): conjunctive candidate prune, then the
    * one-pass smallest-window sweep over each candidate's query-term
    * positions. `pos` is (doc_id, pos, term); `qp` is (qid, term,
    * idx) with idx a 1-based slot id, ≤ `maxSlots` everywhere. */
  private def proximityWindows(pos: org.apache.spark.sql.DataFrame,
      qp: org.apache.spark.sql.DataFrame, maxSlots: Int, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val need = qp.groupBy($"qid").agg(count(lit(1)).as("nt"))
    val cand = pos.select($"doc_id", $"term").distinct()
      .join(broadcast(qp.select($"qid", $"term")), "term")
      .groupBy($"qid", $"doc_id").agg(count(lit(1)).as("hit"))
      .join(broadcast(need), "qid")
      .filter($"hit" === $"nt")
      .select($"qid", $"doc_id")
    val sweep = Window.partitionBy($"qid", $"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hits = pos.join(broadcast(qp), "term")
      .join(cand, Seq("qid", "doc_id"))
      .join(broadcast(need), "qid")
    val withLast = (1 to maxSlots).foldLeft(hits) { (df, i) =>
      df.withColumn(s"m$i",
        max(when($"idx" === i, $"pos")).over(sweep))
    }
    val lastArr = array((1 to maxSlots).map(i => col(s"m$i")): _*)
    withLast
      .withColumn("seen", filter(lastArr, c => c.isNotNull))
      .filter(size($"seen") === $"nt")
      .withColumn("span",
        ($"pos" - array_min($"seen") + 1).cast("long"))
      .groupBy($"qid", $"doc_id").agg(min($"span").as("win"))
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"win".asc, $"doc_id")).cast("long"))
      .filter($"rn" <= k)
      .orderBy($"qid", $"rn")
  }

  /** The (qid, term, idx) slot frame of an unordered term-set query
    * list: distinct terms, slotted by lexicographic rank — the SAME
    * deterministic slot convention x117 derives from document
    * prefixes, shared by the stored and one-shot proximity paths. */
  private def proximityFrame(s: org.apache.spark.sql.SparkSession,
      queries: Seq[(Long, Seq[String])])
      : (org.apache.spark.sql.DataFrame, Int) = {
    require(queries.nonEmpty, "proximity ranking needs queries")
    require(queries.forall(_._2.nonEmpty),
      "every proximity query needs at least one term")
    val rows = queries.flatMap { case (q, ts) =>
      ts.distinct.sorted.zipWithIndex.map { case (t, i) =>
        (q, t, i + 1) }
    }
    (s.createDataFrame(rows).toDF("qid", "term", "idx"),
      queries.map(_._2.distinct.length).max)
  }

  /** One-shot proximity ranking over an arbitrary documents frame
    * with an explicit query set — the spec's independent twin for
    * [[proximityRankStored]]. */
  private[graft] def proximityRankOver(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    val (qp, maxSlots) = proximityFrame(s, queries)
    val pos = tokenized(docs).select($"doc_id",
      posexplode($"tk").as(Seq("pos", "term")))
    proximityWindows(pos, qp, maxSlots, k)
  }

  /** Proximity ranking over the PERSISTED sparse index — the second
    * stored consumer of the postings' position arrays (after
    * [[phraseSearchStored]]): reads ONLY the query terms' bucket
    * directories, resolves versions against the [[staleSparseKeys]]
    * sliver and takes the same as-of cut as every stored search, then
    * explodes the pruned postings' positions into the shared
    * [[proximityWindows]] sweep. A doc re-ingested with moved text
    * ranks at its LATEST term positions only; tombstoned docs never
    * rank; snapshots reproduce any past ranking down to the
    * compaction horizon. */
  def proximityRankStored(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, queries: Seq[(Long, Seq[String])],
      k: Int = 10, asOfBatch: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame = {
    val (qp0, maxSlots) = proximityFrame(s, queries)
    val qp = qp0.withColumn("bucket",
      pmod(xxhash64($"term"), lit(SparseBuckets)))
    // bounded collect: ≤ |distinct query terms| bucket ids
    val qb = qp.select($"bucket").distinct().collect().map(_.getLong(0))
    val reg0 = store.read("sparse_docs", s)
      .select($"batch".cast("long").as("batch"), $"doc_id", $"dl")
    requireAboveHorizon(reg0, asOfBatch)
    val reg = asOf(reg0, asOfBatch)
    val live = liveOf(reg, s, store)
    val post = asOf(store.read("sparse_postings", s)
        .filter($"bucket".isin(qb.toIndexedSeq.map(Long.box): _*))
        .select($"batch".cast("long").as("batch"), $"term", $"doc_id",
          $"positions"), asOfBatch)
      .join(staleSparseKeys(reg, live), Seq("doc_id", "batch"),
        "left_anti")
      .join(broadcast(qp.select($"term").distinct()), "term")
    val pos = post.select($"doc_id", $"term",
      explode($"positions").as("pos"))
    proximityWindows(pos, qp.select($"qid", $"term", $"idx"),
      maxSlots, k)
  }

  /** One-shot phrase search over an arbitrary documents frame with an
    * explicit phrase set — the spec's independent twin for
    * [[phraseSearchStored]] (same core, frames built directly from
    * the given docs). Every phrase must have the same length `plen`
    * (the anchor-completeness test is per-slot-count). */
  /** The (qid, idx, term) slot frame of an ordered phrase set — ONE
    * construction (and one length validation) shared by the stored
    * and one-shot phrase paths so slot semantics cannot drift. */
  private def phraseFrame(s: org.apache.spark.sql.SparkSession,
      phrases: Seq[(Long, Seq[String])], plen: Int)
      : org.apache.spark.sql.DataFrame = {
    require(phrases.nonEmpty, "phrase search needs phrases")
    require(phrases.forall(_._2.length == plen),
      s"every phrase must have length $plen")
    s.createDataFrame(phrases.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (t, i) => (q, i, t) }
    }).toDF("qid", "idx", "term")
  }

  private[graft] def phraseSearchOver(
      s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      phrases: Seq[(Long, Seq[String])], plen: Int, k: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    val pos = tokenized(docs).select($"doc_id",
      posexplode($"tk").as(Seq("pos", "term")))
    phraseOccurrences(pos, phraseFrame(s, phrases, plen), plen, k)
  }

  /** Exact phrase search over the PERSISTED sparse index: the
    * positions stored alongside each posting row (Lucene's
    * postings-with-positions layout, written by [[appendSparseIndex]]
    * at zero extra passes) answer slop-0 phrase queries without
    * touching the documents themselves. Reads ONLY the phrase terms'
    * bucket directories, resolves versions against the
    * [[staleSparseKeys]] sliver exactly like [[bm25SearchStored]] —
    * so a doc re-ingested with moved text matches at its LATEST
    * positions only and tombstoned docs never match — then explodes
    * the pruned postings' position arrays into the shared
    * [[phraseOccurrences]] core. The corpus never shuffles: the
    * exploded frame is (queried-term occurrences) sized, the same
    * bound as the one-shot path's post-prune stage. */
  def phraseSearchStored(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, phrases: Seq[(Long, Seq[String])],
      k: Int = 10, asOfBatch: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame = {
    require(phrases.nonEmpty, "stored phrase search needs phrases")
    val plen = phrases.head._2.length
    val qp = phraseFrame(s, phrases, plen)
      .withColumn("bucket", pmod(xxhash64($"term"), lit(SparseBuckets)))
    // bounded collect: ≤ |distinct phrase terms| bucket ids
    val qb = qp.select($"bucket").distinct().collect().map(_.getLong(0))
    val reg0 = store.read("sparse_docs", s)
      .select($"batch".cast("long").as("batch"), $"doc_id", $"dl")
    requireAboveHorizon(reg0, asOfBatch)
    val reg = asOf(reg0, asOfBatch)
    val live = liveOf(reg, s, store)
    val post = asOf(store.read("sparse_postings", s)
        .filter($"bucket".isin(qb.toIndexedSeq.map(Long.box): _*))
        .select($"batch".cast("long").as("batch"), $"term", $"doc_id",
          $"positions"), asOfBatch)
      .join(staleSparseKeys(reg, live), Seq("doc_id", "batch"),
        "left_anti")
      .join(broadcast(qp.select($"term").distinct()), "term")
    val pos = post.select($"doc_id", $"term",
      explode($"positions").as("pos"))
    phraseOccurrences(pos, qp.select($"qid", $"idx", $"term"), plen, k)
  }

  /** x61 body: RM3-style pseudo-relevance feedback. Round 1 is x47's
    * BM25; the top-`fbK` docs per query become the feedback set; the
    * `expK` highest-weight NEW terms from those docs (weight = summed
    * integerized BM25 contribution within the feedback set — exact
    * longs, so expansion-term selection is engine-identical) join the
    * query; round 2 re-scores with the expanded term set. Same scale
    * shape as x47 twice: posting-list equi-joins, broadcast corpus
    * stats, one rank exchange per round. */
  private[graft] def prfExpand(s: org.apache.spark.sql.SparkSession,
      dir: String, fbK: Int = 3, expK: Int = 2, k: Int = 5)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (tf, df, dl, st) = bm25Parts(s, dir)
    val qt = tf.filter($"doc_id" < 4).select($"doc_id".as("qid"), $"term")
    def scores(q: org.apache.spark.sql.DataFrame) =
      withCi(tf.join(q, "term").filter($"doc_id" =!= $"qid")
        .join(df, "term").join(dl, "doc_id").crossJoin(broadcast(st)))
        .groupBy($"qid", $"doc_id").agg(sum($"ci").as("bm25"))
    val fb = scores(qt)
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"bm25".desc, $"doc_id")))
      .filter($"rn" <= fbK).select($"qid", $"doc_id")
    // candidate expansion terms: every term of a feedback doc that is
    // NOT already a term of that query
    val cand = tf.join(fb, "doc_id")
      .join(qt.select($"qid".as("q0"), $"term".as("t0")),
        $"qid" === $"q0" && $"term" === $"t0", "left_anti")
    val ew = withCi(cand.join(df, "term").join(dl, "doc_id")
        .crossJoin(broadcast(st)))
      .groupBy($"qid", $"term").agg(sum($"ci").as("w"))
    val exp = ew.withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"w".desc, $"term")))
      .filter($"rn" <= expK).select($"qid", $"term")
    scores(qt.unionByName(exp))
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"bm25".desc, $"doc_id")).cast("long"))
      .filter($"rn" <= k)
      .select($"qid", $"doc_id", $"bm25".as("bm25_prf"), $"rn")
      .orderBy($"qid", $"rn")
  }

  /** One-shot PRF over an arbitrary documents frame with an explicit
    * query set — the spec's independent twin for [[prfExpandStored]]
    * (x61's arithmetic, frames built directly from the given docs). */
  private[graft] def prfExpandOver(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame,
      queries: Seq[(Long, Seq[String])], fbK: Int = 3, expK: Int = 2,
      k: Int = 5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tkd = tokenized(docs)
    val tf = tkd
      .select($"doc_id", size($"tk").cast("long").as("dl"),
        explode($"tk").as("term"))
      .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tf"))
    val dfr = termDf(tkd)
    val st = corpusTotals(tkd)
    val qt = s.createDataFrame(
        queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("qid", "term")
    def scores(q: org.apache.spark.sql.DataFrame) =
      withCi(tf.join(broadcast(q.distinct()), "term")
        .filter($"doc_id" =!= $"qid")
        .join(dfr, "term").crossJoin(broadcast(st)))
        .groupBy($"qid", $"doc_id").agg(sum($"ci").as("bm25"))
    val fb = scores(qt)
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"bm25".desc, $"doc_id")))
      .filter($"rn" <= fbK).select($"qid", $"doc_id")
    val cand = tf.join(fb, "doc_id")
      .join(qt.select($"qid".as("q0"), $"term".as("t0")),
        $"qid" === $"q0" && $"term" === $"t0", "left_anti")
    val ew = withCi(cand.join(dfr, "term").crossJoin(broadcast(st)))
      .groupBy($"qid", $"term").agg(sum($"ci").as("w"))
    val exp = ew.withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"w".desc, $"term")))
      .filter($"rn" <= expK).select($"qid", $"term")
    scores(qt.unionByName(exp))
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"bm25".desc, $"doc_id")).cast("long"))
      .filter($"rn" <= k)
      .orderBy($"qid", $"rn")
  }

  /** RM3-style pseudo-relevance feedback over the PERSISTED sparse
    * index — x61's stored twin, completing the served-from-the-index
    * retrieval stack (BM25, phrase, proximity, LM Dirichlet, PRF).
    * Round 1 is [[bm25SearchStored]] at k = fbK; the feedback docs'
    * term lists come from the FORWARD index (`sparse_forward` —
    * Lucene's term-vectors analog, written by [[appendSparseIndex]]
    * from the same tf rollup and bucketed on hash(doc_id)), read
    * dbucket-pruned for exactly the ≤ queries×fbK feedback ids and
    * version-resolved against the same stale sliver as every stored
    * read; expansion-term weights use the LIVE df of the candidate
    * terms (their buckets' pruned posting lists) and live corpus
    * totals; round 2 re-scores through the same stored core with the
    * expanded term frame. As-of cuts apply to every read, so a past
    * PRF run re-derives exactly.
    *
    * Bounded collects: the feedback (qid, doc_id) pairs (≤ q×fbK),
    * their dbucket ids, and the candidate terms' bucket ids (≤ the
    * bucket count). */
  def prfExpandStored(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, queries: Seq[(Long, Seq[String])],
      fbK: Int = 3, expK: Int = 2, k: Int = 5,
      asOfBatch: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queries.nonEmpty, "stored PRF needs queries")
    val qt = s.createDataFrame(
        queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) })
      .toDF("qid", "term")
    val fb = bm25RankStored(s, qt, store, fbK, excludeSelf = true,
        asOfBatch)
      .select($"qid", $"doc_id")
      .localCheckpoint(true)
    // bounded collects: feedback ids and their dbuckets
    val fbIds = fb.select($"doc_id").distinct()
      .select($"doc_id",
        pmod(xxhash64($"doc_id"), lit(SparseBuckets)).as("db"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dbs = fbIds.map(_._2).distinct.toIndexedSeq
    val reg = asOf(store.read("sparse_docs", s)
      .select($"batch".cast("long").as("batch"), $"doc_id", $"dl"),
      asOfBatch)
    val live = liveOf(reg, s, store)
    val stale = staleSparseKeys(reg, live)
    val fwd = asOf(store.read("sparse_forward", s)
        .filter($"dbucket".isin(dbs.map(Long.box): _*))
        .select($"batch".cast("long").as("batch"), $"doc_id",
          $"term", $"tf", $"dl"), asOfBatch)
      .join(stale, Seq("doc_id", "batch"), "left_anti")
      .join(broadcast(fb), "doc_id")
    // candidate expansion terms: every feedback-doc term that is NOT
    // already a term of that query
    val cand = fwd.join(qt.select($"qid".as("q0"), $"term".as("t0")),
        $"qid" === $"q0" && $"term" === $"t0", "left_anti")
      .localCheckpoint(true)
    // bounded collect: the candidate terms' bucket ids (≤ 64)
    val cb = cand
      .select(pmod(xxhash64($"term"), lit(SparseBuckets)).as("b"))
      .distinct().collect().map(_.getLong(0)).toIndexedSeq
    val dfq = asOf(store.read("sparse_postings", s)
        .filter($"bucket".isin(cb.map(Long.box): _*))
        .select($"batch".cast("long").as("batch"), $"term",
          $"doc_id"), asOfBatch)
      .join(stale, Seq("doc_id", "batch"), "left_anti")
      .join(broadcast(cand.select($"term").distinct()), "term")
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val tot = live.agg(count(lit(1)).as("n_docs"),
      sum($"dl").cast("double").as("sum_dl"))
    val ew = withCi(cand.join(dfq, "term").crossJoin(broadcast(tot)))
      .groupBy($"qid", $"term").agg(sum($"ci").as("w"))
    val exp = ew.withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"w".desc, $"term")))
      .filter($"rn" <= expK).select($"qid", $"term")
    bm25RankStored(s, qt.unionByName(exp), store, k,
      excludeSelf = true, asOfBatch)
  }

  /** The x54 temperature-mixture share frame — (source, n_docs,
    * chars_total, share6, natural6), shares in exact integer ppm. ONE
    * definition for x54 (reports the design) and x84 (emits the
    * interleaved training order that realizes it). */
  private[graft] def mixtureShares(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val c = Tables(s, dir, "documents")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("chars_total"))
      .withColumn("s6", round(sqrt($"n_docs") * 1000000).cast("long"))
    val t = c.agg(sum($"s6").as("tot"), sum($"n_docs").as("totd"))
    c.crossJoin(broadcast(t))
      .withColumn("share6",
        round(lit(1000000.0) * $"s6" / $"tot").cast("long"))
      .withColumn("natural6",
        round(lit(1000000.0) * $"n_docs" / $"totd").cast("long"))
  }

  /** Shared SQL CTE chain for [[mixtureShares]], ending in
    * `u(source, n_docs, chars_total, share6, natural6)`. */
  private[graft] val sqlMixtureCtes: String =
    s"""c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_chars) AS BIGINT) AS chars_total
       |  FROM documents GROUP BY source),
       |s AS (SELECT source, n_docs, chars_total,
       |    CAST(round(sqrt(n_docs) * 1000000, 0) AS BIGINT) AS s6
       |  FROM c),
       |t AS (SELECT CAST(sum(s6) AS BIGINT) AS tot,
       |    CAST(sum(n_docs) AS BIGINT) AS totd FROM s),
       |u AS (SELECT s.source, s.n_docs, s.chars_total,
       |    CAST(round(1000000.0 * s.s6 / t.tot, 0) AS BIGINT)
       |      AS share6,
       |    CAST(round(1000000.0 * s.n_docs / t.totd, 0) AS BIGINT)
       |      AS natural6
       |  FROM s, t)""".stripMargin

  /** The SimHash fingerprint relation (doc_id, simhash) — ONE
    * signature definition shared by x8 (16-bit report) and the x81
    * Hamming dedup join (32-bit: the pair space needs the wider code —
    * at 16 bits this tiny-vocab corpus collapses thousands of docs
    * onto identical fingerprints). */
  private[graft] def simhashed(s: org.apache.spark.sql.SparkSession,
      dir: String, bits: Int = 16): org.apache.spark.sql.DataFrame =
    Tables.spread(s, dir, "documents")
      .select($"doc_id", T.wsTokens($"text").as("tk"))
      .filter(size($"tk") >= 1)
      .select($"doc_id", T.simhash($"tk", bits).as("simhash"))

  /** x75 body: WAND-style upper-bound-pruned top-k BM25 — PROVABLY
    * lossless (the result rows are pinned identical to x47's in
    * ScaleGuardsSpec). The index-time statistic is the impact-ordered-
    * index insight (Anh & Moffat): the BM25 term-doc contribution `ci`
    * is query-INDEPENDENT, so each term's maximum contribution
    * ub(term) = max_d ci(term, d) is a vocabulary-sized table computed
    * once and broadcast. Per query: (1) a cheap exact threshold θ0 =
    * the k-th best exact score among docs matching the query's RAREST
    * term (min df — the shortest postings list; a subset's k-th best
    * never exceeds the corpus's, so θ0 ≤ θ_true); (2) every candidate
    * doc's upper bound Σ ub(matched terms) ≥ its true score, so docs
    * with ubsum < θ0 CANNOT reach the top k and are dropped before the
    * rank; (3) survivors rank exactly as x47. At 100 TB the rank
    * window — a global per-query sort — sees only the survivor sliver
    * instead of every candidate, and a scorer with an expensive exact
    * stage (proximity, reranking features) runs on that sliver only.
    * The output carries the per-query candidate/pruned counts as
    * governance columns. */
  /** x110 feature row: the pair-level signals a cross-encoder stand-in
    * scores (NOT private — Spark's deserializer needs the ctor). */
  final case class PairFeat(qid: Long, doc_id: Long,
      ov: Long, smtf: Long, bm25: Long, dl: Long)

  /** The x110 stand-in model weights over (ov, smtf, bm25, dl) —
    * literal in BOTH engines (the m4 fixed-weights discipline). */
  private[graft] val CeWeights = Array(500000L, 3000L, 1L, -100L)

  /** Persist the cross-encoder model artifact as a `ce_model` entity —
    * the retrieval stack's third stage gets the same stored lifecycle
    * as its first two (sparse index, ANN books): the model bytes are
    * a keyed row, replays overwrite themselves, and a serving session
    * loads the artifact instead of carrying weights in code (M5's
    * model-(de)serialization discipline; the bytes ARE the
    * [[graft.ml.CrossEncoder]] contract, so a real ONNX/TF blob drops
    * into the same row). */
  def persistCeModel(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, weights: Array[Long] = CeWeights,
      modelId: Long = 0L, trainedAt: Long = 0L): Unit = {
    // VERSIONED under (model_id, trained_at): a retrain lands a new
    // version and leaves prior ones readable (loadCeModel's as-of),
    // while replaying the same version overwrites only itself —
    // yesterday's rerank stays reproducible after today's retrain
    val bytes = graft.ml.CrossEncoder.model(weights)
    // Same-version re-persist is the sanctioned crash-recovery replay
    // — but only the SAME weights are a replay. New weights under an
    // existing version stamp would silently redefine what every past
    // consumer of that version scored with (the trainStoredEmbeddings
    // / persistAnnBooks same-version geometry rule; here the whole
    // artifact is the geometry, and it is one row, so the guard
    // compares it outright). Bounded: one keyed point read.
    val existing =
      try store.readKeyed("ce_model",
          Seq("model_id" -> modelId, "trained_at" -> trainedAt), s)
        .select($"model").collect()
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          Array.empty[org.apache.spark.sql.Row]
      }
    existing.headOption.foreach(r => require(
      java.util.Arrays.equals(r.getAs[Array[Byte]](0), bytes),
      s"ce_model $modelId already holds different weights at version " +
        s"$trainedAt — new weights are a retrain, not a replay; land " +
        "them under a new trained_at"))
    store.delete("ce_model",
      Seq("model_id" -> modelId, "trained_at" -> trainedAt))
    store.write("ce_model",
      s.createDataFrame(Seq((modelId, trainedAt, bytes)))
        .toDF("model_id", "trained_at", "model"),
      Seq("model_id", "trained_at"))
  }

  /** Load one persisted cross-encoder artifact — a keyed point read
    * (the store's O(1) GET) of the model's partition, serving the
    * newest version at or below `asOfTrainedAt` (latest by default);
    * refuses loudly when no version exists at or below the cut. */
  def loadCeModel(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, modelId: Long = 0L,
      asOfTrainedAt: Long = Long.MaxValue): Array[Byte] = {
    // bounded: one row per retained version of ONE model id
    val rows = store.readKeyed("ce_model",
        Seq("model_id" -> modelId), s)
      .select($"trained_at".cast("long").as("t"), $"model")
      .filter($"t" <= asOfTrainedAt)
      .orderBy($"t".desc).limit(1).collect()
    require(rows.length == 1,
      s"ce_model $modelId: no version at or below $asOfTrainedAt")
    rows.head.getAs[Array[Byte]](1)
  }

  /** Retention for the versioned cross-encoder artifact: drop every
    * version of `modelId` strictly below `keepFrom` — except the
    * newest, which a vacuum never deletes. As-of loads below the cut
    * then refuse with the standard no-version message. Returns the
    * number of versions dropped; partition-level deletes only. */
  def vacuumCeModelVersions(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store, keepFrom: Long,
      modelId: Long = 0L): Int =
    // ONE retention core for every versioned artifact — the
    // never-newest rule and crash-window ordering live in one place
    VectorOps.vacuumVersions(s, store, Seq("ce_model"), keepFrom,
      key = Seq("model_id" -> modelId))

  /** x110 against a PERSISTED model: load the `ce_model` artifact
    * (optionally a PAST version via `asOfTrainedAt`) and rerank with
    * it — a serving session's path (StoreSpec pins it row-identical
    * to the literal-weights registry body, and a post-retrain as-of
    * rerank identical to the pre-retrain one). */
  def rerankCrossStored(s: org.apache.spark.sql.SparkSession,
      dir: String, store: graft.store.Store, modelId: Long = 0L,
      shortlist: Int = 20, k: Int = 5,
      asOfTrainedAt: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame =
    rerankCrossWith(s, dir,
      loadCeModel(s, store, modelId, asOfTrainedAt), shortlist, k)

  /** Cross-encoder version drift: per query, the top-k reranked sets
    * under two persisted model versions, as set sizes + overlap +
    * exact-integer Jaccard ppm — the roll-forward decision artifact,
    * sharing [[VectorOps.neighborSetDrift]] with the embedding and
    * ANN-book families (one drift verb per versioned artifact). */
  def rerankVersionDrift(s: org.apache.spark.sql.SparkSession,
      dir: String, store: graft.store.Store, verA: Long, verB: Long,
      modelId: Long = 0L, shortlist: Int = 20, k: Int = 5)
      : org.apache.spark.sql.DataFrame = {
    def side(ver: Long) = rerankCrossStored(s, dir, store, modelId,
      shortlist, k, asOfTrainedAt = ver)
      .select($"qid", $"doc_id".as("nid"))
    VectorOps.neighborSetDrift(side(verA), side(verB))
  }

  /** x110 body: BM25 top-20 shortlist per query, reranked by the
    * batched [[graft.ml.CrossEncoder]] pair scorer (broadcast model
    * bytes, mapPartitions batches — the M3 inference seam). The model
    * only ever sees queries×shortlist pairs; the corpus-sized work is
    * x47's retrieval, already audited. */
  private[graft] def rerankCross(s: org.apache.spark.sql.SparkSession,
      dir: String, shortlist: Int = 20, k: Int = 5)
      : org.apache.spark.sql.DataFrame =
    rerankCrossWith(s, dir, graft.ml.CrossEncoder.model(CeWeights),
      shortlist, k)

  /** [[rerankCross]] over caller-supplied model bytes — shared by the
    * literal-weights registry body and [[rerankCrossStored]]. */
  private def rerankCrossWith(s: org.apache.spark.sql.SparkSession,
      dir: String, modelBytes: Array[Byte], shortlist: Int, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (tf, _, dl, _) = bm25Parts(s, dir)
    val sl = bm25TopK(s, dir, shortlist)
      .select($"qid", $"doc_id", $"bm25")
    val qv = tf.filter($"doc_id" < 4)
      .select($"doc_id".as("qid"), $"term", $"tf".as("tfq"))
    val ftr = sl.join(qv, "qid")
      .join(tf, Seq("doc_id", "term"))
      .groupBy($"qid", $"doc_id", $"bm25")
      .agg(count(lit(1)).as("ov"), sum(least($"tfq", $"tf")).as("smtf"))
      .join(dl, "doc_id")
      .select($"qid", $"doc_id", $"ov", $"smtf",
        $"bm25".cast("long").as("bm25"), $"dl")
    implicit val featEnc =
      org.apache.spark.sql.Encoders.product[PairFeat]
    implicit val scEnc = org.apache.spark.sql.Encoders
      .tuple(org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
    val bcModel = s.sparkContext.broadcast(modelBytes)
    val scored = ftr.as[PairFeat].mapPartitions { it =>
      it.grouped(32768).flatMap { batch =>
        val scores = graft.ml.CrossEncoder.scoreBatch(bcModel.value,
          batch.iterator.map(p => Array(p.ov, p.smtf, p.bm25, p.dl)))
        batch.iterator.zip(scores)
          .map { case (p, sc) => (p.qid, p.doc_id, sc) }
      }
    }.toDF("qid", "doc_id", "ce_score")
    scored.withColumn("rn", row_number().over(Window
        .partitionBy($"qid").orderBy($"ce_score".desc, $"doc_id"))
        .cast("long"))
      .filter($"rn" <= k)
      .orderBy($"qid", $"rn")
  }

  /** x111 body: BM25 candidates anti-joined against near-dups of the
    * query (both pair orientations), then ranked top-k. The exclusion
    * set is queries×their-near-dups — tiny — so the anti-join is a
    * broadcast; nothing beyond the two audited parents shuffles. */
  private[graft] def hardNegatives(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = 10, qMax: Long = 4L)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pr = jaccardPairs(s, dir).select($"d1", $"d2")
    val ex = pr.filter($"d1" < qMax)
      .select($"d1".as("qid"), $"d2".as("nd"))
      .union(pr.filter($"d2" < qMax)
        .select($"d2".as("qid"), $"d1".as("nd")))
    bm25Scores(s, dir, qMax)
      .join(broadcast(ex.withColumnRenamed("nd", "doc_id")),
        Seq("qid", "doc_id"), "left_anti")
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"bm25".desc, $"doc_id")).cast("long"))
      .filter($"rn" <= k)
      .orderBy($"qid", $"rn")
  }

  private[graft] def bm25Wand(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = 5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (tf, df, dl, st) = bm25Parts(s, dir)
    // index-time: per-(term, doc) contribution + per-term upper bound
    val allCi = withCi(tf.join(df, "term").join(dl, "doc_id")
        .crossJoin(broadcast(st)))
      .select($"term", $"doc_id", $"ci".cast("long").as("ci"))
      .cache()
    val ub = allCi.groupBy($"term").agg(max($"ci").as("ub"))
    val qt = tf.filter($"doc_id" < 4).select($"doc_id".as("qid"), $"term")
    // rarest term per query: min (df, term) — exact integers, so the
    // choice is engine-identical
    val rare = qt.join(df, "term")
      .groupBy($"qid").agg(min(struct($"df", $"term")).as("mt"))
      .select($"qid", $"mt.term".as("rterm"))
    // candidate contributions (the postings join — shared by seed
    // scoring and pruning)
    val cand = qt.join(allCi, "term").filter($"doc_id" =!= $"qid")
    // θ0: k-th best exact score over the rarest-term posting's docs
    val seed = rare.join(
      allCi.select($"term".as("rterm"), $"doc_id"), "rterm")
      .filter($"doc_id" =!= $"qid").select($"qid", $"doc_id")
    val seedSc = cand.join(seed, Seq("qid", "doc_id"), "left_semi")
      .groupBy($"qid", $"doc_id").agg(sum($"ci").as("sc"))
    val theta = seedSc
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"sc".desc, $"doc_id")))
      .groupBy($"qid")
      .agg(coalesce(max(when($"rn" === k, $"sc")), lit(0L)).as("theta"))
    // one (qid, doc) rollup carrying BOTH the upper bound and the
    // exact score; the prune fires before the rank exchange
    val agg = cand.join(broadcast(ub), "term")
      .groupBy($"qid", $"doc_id")
      .agg(sum($"ub").as("ubs"), sum($"ci").as("bm25"))
      .join(broadcast(theta), "qid")
      .cache()
    val cnts = agg.groupBy($"qid").agg(
      count(lit(1)).as("cand_docs"),
      sum(when($"ubs" >= $"theta", 0L).otherwise(1L)).as("pruned_docs"))
    agg.filter($"ubs" >= $"theta")
      .withColumn("rn", row_number().over(Window.partitionBy($"qid")
        .orderBy($"bm25".desc, $"doc_id")).cast("long"))
      .filter($"rn" <= k)
      .join(broadcast(cnts), "qid")
      .select($"qid", $"doc_id", $"bm25", $"rn", $"cand_docs",
        $"pruned_docs")
      .orderBy($"qid", $"rn")
  }

  /** The integerized BM25 term-doc contribution as SQL — ONE
    * definition shared by x47's chain and both of x61's rounds.
    * Expects tf/df/dl/n_docs/sum_dl in scope. */
  private val sqlCi: String =
    """CAST(floor((ln((((n_docs - df) + 0.5) / (df + 0.5)) + 1.0)
      |      * ((tf * 2.2) / (tf + (1.2 * (0.25 + (0.75 *
      |        (dl / (sum_dl / n_docs)))))))) * 1000000.0 + 0.5)
      |      AS BIGINT)""".stripMargin

  /** Shared CTE chain for the BM25 score (x47, x50's sparse arm, and
    * x61's round 1), ending in `bmr(qid, doc_id, bm25, rn)` —
    * unlimited rank, callers slice. MUST mirror [[bm25TopK]]'s
    * expression order exactly. */
  private[graft] val sqlBm25Ctes: String =
    s"""tk AS (SELECT doc_id, ${TS.wsTokens("lower(text)")} AS tk
       |  FROM documents),
       |dlr AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM tk),
       |t AS (SELECT doc_id, unnest(tk) AS term FROM tk),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE)
       |    AS sum_dl FROM dlr),
       |qt AS (SELECT doc_id AS qid, term FROM tf WHERE doc_id < 4),
       |co AS (SELECT qt.qid, tf.doc_id,
       |    $sqlCi AS ci
       |  FROM tf JOIN qt ON tf.term = qt.term AND tf.doc_id <> qt.qid
       |  JOIN df ON df.term = tf.term
       |  JOIN dlr ON dlr.doc_id = tf.doc_id
       |  CROSS JOIN st),
       |bsc AS (SELECT qid, doc_id, CAST(sum(ci) AS BIGINT) AS bm25
       |  FROM co GROUP BY 1, 2),
       |bmr AS (SELECT qid, doc_id, bm25, row_number() OVER (
       |    PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rn
       |  FROM bsc)""".stripMargin

  /** Shared CTE chain for the x6/x19 near-dup pair graph, ending in
    * `jac(d1, d2, jacv)`: df-capped shingle inverted index -> pair
    * intersection counts -> Jaccard >= 0.5. */
  /** The x55 pipeline body shared with x107: quality gates →
    * first-occurrence exact dedup → benchmark decontamination →
    * survivors (doc_id, n_tokens, stop_ratio, alpha_ratio). */
  private def corpusPrepSurvivors(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    corpusPrepFrames(s, dir)._2

  /** [[corpusPrepSurvivors]] plus the cached corpus-wide hashed
    * shingle frame (doc_id, h) it is built from — x107 feeds that
    * frame straight into [[jaccardPairsFromShingles]], so the whole
    * manifest tokenizes and shingles the corpus exactly ONCE across
    * its prep, decontamination, and pair stages. */
  private def corpusPrepFrames(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val tkc = T.wsTokens($"text")
    val nStop = size(filter(tkc, w => w.isin(Stopwords: _*)))
      .cast("double")
    val nTok = size(tkc)
    // NOT cached (the x118 lesson, re-measured here): q's two
    // consumers (the survivor groupBy and the shingle explode) each
    // re-tokenize from a column-pruned parquet scan — one cheap
    // codegen'd pass each — while materializing the token arrays costs
    // the cache build AND blocks scan pruning. Measured at sf0.1:
    // a wash on wall clock, so the memory-light form wins (the full
    // bench run carries every other query's residue). surv and shAll
    // below STAY pinned — each feeds 2-3 downstream consumers whose
    // recompute would repeat a shuffle, not just a scan.
    val q = Tables.spread(s, dir, "documents").select($"doc_id",
      tkc.as("tk"),
      nTok.cast("long").as("n_tokens"),
      round(nStop / nTok, 6).as("stop_ratio"),
      round(length(regexp_replace(lower($"text"), "[^a-z]", ""))
        .cast("double") / length($"text"), 6).as("alpha_ratio"))
    val g = q.filter($"n_tokens" >= 5 && $"alpha_ratio" >= 0.4 &&
      $"stop_ratio" <= 0.8 && $"doc_id" % 20 =!= 0)
    // tk is deliberately NOT carried through this groupBy: no consumer
    // reads a survivor's tokens (the shingle side semi-joins shAll on
    // the kept doc_ids — a survivor's shingles ARE its original doc's
    // by the min_by construction), and min_by(tk) would shuffle full
    // token arrays — the widest column in the pipeline — for nothing.
    // At sf0.1 the wall clock is shuffle-fixed-cost-bound either way
    // (measured: a wash); the win is exchange WIDTH, which is what
    // survives a 100× scale-up.
    val surv = g
      .withColumn("key", md5(concat_ws(" ", slice($"tk", 1, 8))))
      .groupBy($"key")
      .agg(min($"doc_id").as("doc_id"),
        min_by($"n_tokens", $"doc_id").as("n_tokens"),
        min_by($"stop_ratio", $"doc_id").as("stop_ratio"),
        min_by($"alpha_ratio", $"doc_id").as("alpha_ratio"))
      .cache()
    // ONE corpus-wide shingle explode+hash serves all three shingle
    // consumers — the survivor side (semi-join on kept doc_ids: a
    // survivor's tk IS its original doc's tk by the min_by
    // construction), the bench side (the doc_id % 20 slice), and,
    // through the x107 manifest, the near-dup pair index — instead of
    // three independent explode passes over overlapping corpus slices.
    // Pinned HASH-PARTITIONED ON h: the frame's three downstream
    // exchanges (survivor-distinct, bench-distinct, the pair stage's
    // df-cap window) all cluster on h or a superset of it, so ONE
    // repartition before the cache replaces three independent
    // corpus-sized shuffles — HashPartitioning(h) satisfies the
    // window's ClusteredDistribution(h) exactly and the distinct's
    // ClusteredDistribution(doc_id, h) by the subset rule. Measured
    // at sf0.1: x107 warm 4.05 s → the r11 floor dump's three
    // shingle-frame exchanges collapse to the one paid here.
    val shAll = q.filter(size($"tk") >= K)
      .select($"doc_id", explode(T.shingles($"tk", K)).as("s"))
      .select($"doc_id", T.md5Long($"s").as("h"))
      .repartition($"h")
      .cache()
    // ONE distinct over the h-partitioned cache (local hash-agg, no
    // exchange) feeds BOTH decontamination sides — previously the
    // survivor and bench sides each paid their own distinct shuffle.
    // CACHED: with the exchange gone there is no shuffle for
    // ReuseExchange to dedup, so an un-pinned shD would re-run the
    // corpus-sized hash-agg once per consumer (three in x107's DAG)
    val shD = shAll.distinct().cache()
    val sh = shD
      .join(surv.select($"doc_id"), Seq("doc_id"), "left_semi")
    val bench = shD.filter($"doc_id" % 20 === 0)
      .select($"doc_id".as("bd"), $"h")
    val sz = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val bad = sh.join(broadcast(bench), "h")
      .groupBy($"doc_id".as("cd"), $"bd").agg(count(lit(1)).as("i"))
      .join(sz.select($"doc_id".as("cd"), $"n"), "cd")
      .filter($"i" / $"n" >= 0.2)
      .select($"cd").distinct()
    (shAll, surv.join(bad, surv("doc_id") === bad("cd"), "left_anti"))
  }

  /** x107's leakage resolution, exposed for direct spec coverage (the
    * sf0.01 corpus exercises the no-drop path only — its x6-grade
    * near-dups share 8-token prefixes, so exact dedup already
    * collapsed them): for every pair straddling a split boundary, drop
    * the LOWER-precedence member (train < val < test), keeping the
    * training copy. Two equi joins over the (small) pair list + one
    * anti-join; a doc in several cross-boundary pairs drops once. */
  private[graft] def resolveLeakage(
      rel0: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def prec(c: org.apache.spark.sql.Column) =
      when(c === "train", 0).when(c === "val", 1).otherwise(2)
    val r = rel0.toDF("doc_id", "split")
    val leak = pairs.toDF("d1", "d2")
      .join(r.toDF("da", "sa"), $"d1" === $"da")
      .join(r.toDF("db", "sb"), $"d2" === $"db")
      .filter($"sa" =!= $"sb")
    val drop = leak
      .select(when(prec($"sa") > prec($"sb"), $"d1").otherwise($"d2")
        .as("doc_id"))
      .distinct()
    r.join(drop, Seq("doc_id"), "left_anti")
  }

  /** The near-dup pair bundle with every CTE name under a prefix, so
    * it composes into a WITH alongside bundles whose names collide
    * (the BM25 chain also defines `tk`/`df`). `pairCtesP("")` is the
    * historical unprefixed text, byte-for-byte. */
  private def pairCtesP(p: String, tau: String = "0.5"): String =
    s"""${p}tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
       |  FROM documents),
       |${p}sh AS (SELECT doc_id, ${TS.md5Long("s")} AS h FROM (
       |  SELECT doc_id, unnest(${TS.shingles("tk", K)}) AS s
       |  FROM ${p}tk WHERE len(tk) >= $K)),
       |${p}df AS (SELECT h, count(*) AS c FROM ${p}sh GROUP BY h),
       |${p}shf AS (SELECT ${p}sh.doc_id, ${p}sh.h FROM ${p}sh
       |  JOIN ${p}df USING (h)
       |  WHERE ${p}df.c <= $DfCap),
       |${p}sz AS (SELECT doc_id, count(*) AS n FROM ${p}shf
       |  GROUP BY doc_id),
       |${p}pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    count(*) AS i
       |  FROM ${p}shf a JOIN ${p}shf b ON a.h = b.h
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |${p}jac AS (SELECT d1, d2, i / (x.n + y.n - i) AS jacv
       |  FROM ${p}pairs JOIN ${p}sz x ON ${p}pairs.d1 = x.doc_id
       |    JOIN ${p}sz y ON ${p}pairs.d2 = y.doc_id
       |  WHERE i / (x.n + y.n - i) >= $tau)""".stripMargin

  private val pairCtes: String = pairCtesP("")

  /** x2's composite quality score of a raw-case token array — ONE
    * definition shared by the x2 report and the x93 canonical
    * selection, so "best quality" cannot drift between the two. */
  private def qualityCol(tk: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val nStop = size(filter(tk, w => w.isin(Stopwords: _*))).cast("double")
    val nTok = size(tk)
    round(least(nTok / lit(50.0), lit(1.0)) *
      (lit(1.0) - nStop / nTok), 6)
  }

  /** The per-doc integerized quality frame behind x108/x126, over a
    * caller-supplied documents frame (doc_id, source, text) — the
    * streaming drift twin feeds its micro-batches through the same
    * definition, so live and batch quality cannot drift. */
  private[graft] def qualityOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select($"doc_id", $"source",
        graft.functions.TextExprs.wsTokens($"text").as("tk"))
      .filter(size($"tk") >= 1)
      .select($"doc_id", $"source",
        round(qualityCol($"tk") * lit(1000000.0)).cast("long")
          .as("q6"))

  /** The per-doc integerized quality frame behind x108 — shared with
    * the ScaleGuardsSpec case pinning the approx_percentile
    * (mergeable-sketch) swap against the exact quartiles. */
  private[graft] def qualityBySource(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    qualityOf(Tables.spread(s, dir, "documents"))

  /** x126's sufficient statistics: per (source, decile bucket),
    * reference-half (even doc_ids) and candidate-half (odd) counts.
    * This IS the drift monitor's whole state — ≤ |sources|×10 rows
    * however much corpus has passed, counts add per micro-batch like
    * any sketch merge rule, so the streaming twin maintains it in
    * Complete mode with no watermark and no growth (the CMS/HLL twin
    * discipline applied to data drift). */
  private[graft] def qualityBucketCounts(
      docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    qualityOf(docs)
      .select($"source", ($"doc_id" % 2 === 0).as("is_ref"),
        least(expr("q6 div 100000"), lit(9L)).as("bucket"))
      .groupBy($"source", $"bucket")
      .agg(sum(when($"is_ref", 1L).otherwise(0L)).as("r"),
        sum(when($"is_ref", 0L).otherwise(1L)).as("c"))

  /** x126's report over a (source, bucket, r, c) count table — the
    * read side the streaming twin shares with the batch body: add-1
    * smoothing over the full 10-bucket scaffold, exact-integer TV
    * distance in ppm (128-bit cross-products, the x67 rule), and PSI
    * with per-bucket micro-integerized contributions (x119's ln
    * discipline) so the rollup is order-independent. Every frame here
    * is |sources|×10 — the corpus never enters. */
  private[graft] def psiDriftOver(g0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = "decimal(38,0)"
    // pinned: the count table has THREE consumers (the source-list
    // collect, the scaffold join, and the totals rollup) and an
    // un-pinned g would re-run its whole corpus pass per consumer —
    // the plan dump showed two full parquet scans. |sources|×10 rows:
    // the canonical localCheckpoint candidate.
    val g = g0.localCheckpoint(true)
    // the bucket scaffold: |sources|×10 rows — an empty bucket must
    // still contribute its smoothed term. DRIVER-BUILT from a
    // bounded collect (the report is per-source by contract, so the
    // source list is enumerable at any corpus size): a scaffold
    // derived from g's own lineage is a self-join, and the analyzer
    // cannot deduplicate some leaves (the streaming twin's in-memory
    // sink table raised INTERNAL_ERROR conflicting-references); a
    // fresh local relation sidesteps the whole class.
    val spark = g.sparkSession
    val srcs = g.select($"source").distinct().collect().map(_.get(0))
    val sb = spark.createDataFrame(
      spark.sparkContext.parallelize(
        srcs.toIndexedSeq.flatMap(src => (0L to 9L).map(b =>
          org.apache.spark.sql.Row(src, b))), 1),
      org.apache.spark.sql.types.StructType(Seq(
        g.schema("source"),
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val f = sb
      .join(g, Seq("source", "bucket"), "left")
      .select($"source", $"bucket",
        (coalesce($"r", lit(0L)) + 1L).as("r1"),
        (coalesce($"c", lit(0L)) + 1L).as("c1"))
    val t = f.groupBy($"source")
      .agg(sum($"r1").as("rt"), sum($"c1").as("ct"))
    val pC = $"c1" * lit(1.0) / $"ct"
    val pR = $"r1" * lit(1.0) / $"rt"
    f.join(broadcast(t), "source")
      .select($"source", $"rt", $"ct",
        abs($"c1".cast(dec) * $"rt".cast(dec) -
          $"r1".cast(dec) * $"ct".cast(dec)).as("tvnum"),
        floor((pC - pR) * log(pC / pR) * lit(1000000.0) + 0.5)
          .cast("long").as("psi6b"))
      .groupBy($"source").agg(
        (max($"rt") - 10L).cast("long").as("n_ref"),
        (max($"ct") - 10L).cast("long").as("n_cand"),
        expr(s"CAST((CAST(1000000 AS $dec) * sum(tvnum)) div " +
          s"(2 * CAST(max(ct) AS $dec) * max(rt)) AS BIGINT)")
          .as("tv_ppm"),
        sum($"psi6b").cast("long").as("psi6"))
      .orderBy($"source")
  }

  /** As-of drift verdict over the monitor's PERSISTED count table:
    * the counts are batch-partitioned, so "the drift report as of batch
    * B" is the same |sources|×10-row read over the `batch <= B`
    * partition cut (a directory prune, no history replay). Guarded by
    * the family's maintenance horizon: history below a fold was
    * physically consolidated and refuses rather than silently serving
    * the folded (newer) state under an old batch id. Default serves
    * the latest state — the standing drift report between monitor
    * ticks. */
  def psiDriftAsOf(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store,
      asOfBatch: Long = graft.store.Snapshot.Latest)
      : org.apache.spark.sql.DataFrame = {
    graft.store.Horizon.requireServable(store, s, "qualitydrift",
      asOfBatch)
    val counts = graft.store.Snapshot.cut(
        store.read("quality_bucket_counts", s), asOfBatch)
      .select($"source", $"bucket".cast("long").as("bucket"),
        $"r".cast("long").as("r"), $"c".cast("long").as("c"))
      .groupBy($"source", $"bucket")
      .agg(sum($"r").as("r"), sum($"c").as("c"))
    psiDriftOver(counts)
  }

  /** Retention/compaction for the data-drift monitor's count table:
    * the monitor lands one `quality_bucket_counts` partition per
    * micro-batch, and its cumulative read scans every landed
    * partition — bounded state (counts add), but unbounded PARTITION
    * COUNT: at a million micro-batches the per-batch verdict read
    * lists a million directories. This folds all landed batches into
    * one consolidated partition under the newest batch id through the
    * crash-safe [[graft.store.StagedFold]] (the shared fold of
    * [[SketchOps.compactSketchEntity]]): counts are a merge-by-sum
    * sketch, so the fold is the |sources|×10-row rollup. The family
    * horizon advances with the fold; the monitor's append guard then
    * refuses a replayed batch at/below it loudly (a delete-before-write
    * replay would destroy every other row folded with it) — run
    * compaction as the family's offline maintenance job, never under
    * the live monitor, like every StagedFold compaction. Verdict rows
    * (`quality_drift`) are the per-batch PRODUCT, not state — they
    * are never folded. */
  def compactQualityCounts(s: org.apache.spark.sql.SparkSession,
      store: graft.store.Store): Unit =
    SketchOps.compactSketchEntity(s, store, "qualitydrift",
      "quality_bucket_counts",
      df => df.groupBy($"source", $"bucket")
        .agg(sum($"r").as("r"), sum($"c").as("c")),
      Seq("source", "bucket", "r", "c"))

  /** x93 body: canonical-by-QUALITY resolution of near-dup clusters —
    * the production dedup selection rule. x19 gives the transitive
    * near-dup components; of each cluster this keeps the member with
    * the best x2 quality score (tie: lowest doc_id), completing the
    * selection-rule family: x30/x49 keep-first, x20 keep-longest over
    * exact prefix keys, x93 keep-best-quality over TRANSITIVE fuzzy
    * clusters (what a real corpus dedup ships — the canonical doc
    * should be the best copy, not the first one crawled). Scale
    * shape: x19's bounded component machinery + one id-equi quality
    * join + one per-cluster rank window; nothing new shuffles
    * corpus-wide. */
  private[graft] def clusterResolve(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val comp = graft.ops.Components
      .connected(jaccardPairs(s, dir).select($"d1", $"d2"))
    val q = Tables(s, dir, "documents")
      .select($"doc_id", qualityCol(T.wsTokens($"text")).as("quality"))
    comp.join(q, "doc_id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"comp")
          .orderBy($"quality".desc, $"doc_id")))
      .filter($"rn" === 1)
      .select($"comp", $"doc_id".as("keep_id"), $"quality",
        $"csize".as("n_members"))
      .orderBy($"comp")
  }

  /** Spark twin of [[pairCtes]]: near-dup pairs (d1, d2, jacv).
    * The shingle join keys on the 48-bit hash, not the string: ~3x
    * smaller shuffle keys; both engines hash identically so any
    * collision affects both sides the same way. */
  private def jaccardPairs(s: org.apache.spark.sql.SparkSession,
      dir: String, minJac: Double = 0.5)
      : org.apache.spark.sql.DataFrame = {
    val tk = Tables.spread(s, dir, "documents")
      .select($"doc_id", T.wsTokens($"text").as("tk"))
      .filter(size($"tk") >= K)
    jaccardPairsFromShingles(tk
      .select($"doc_id", explode(T.shingles($"tk", K)).as("s"))
      .select($"doc_id", T.md5Long($"s").as("h")), minJac)
  }

  /** [[jaccardPairs]] from a caller-supplied hashed-shingle frame
    * (doc_id, h) — so a composite body that ALREADY exploded and
    * hashed the corpus shingles (x107's prep stage) shares that one
    * pass instead of re-tokenizing and re-shingling every document. */
  private def jaccardPairsFromShingles(
      sh: org.apache.spark.sql.DataFrame, minJac: Double = 0.5)
      : org.apache.spark.sql.DataFrame = {
    // df-cap as a window over h: one shuffle, no extra join, and the
    // cached result stays hash-partitioned on h so the pair self-join
    // below needs no further exchange. (Measured alternatives at
    // sf0.1: postings-list pair enumeration via collect_list or a
    // bounded udaf is 2-4x slower — object-hash aggregation and
    // per-row array copies lose to the codegen'd sort window + SMJ.)
    val shf = sh
      .withColumn("c", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy($"h")))
      .filter($"c" <= DfCap).select($"doc_id", $"h").cache()
    val sz = shf.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    // self-join via an explicit rename (avoids ambiguous-attribute
    // resolution on a shared lineage)
    val shfB = shf.select($"h".as("h2"), $"doc_id".as("doc_id2"))
    val pairs = shf.join(shfB, $"h" === $"h2" && $"doc_id" < $"doc_id2")
      .groupBy($"doc_id".as("d1"), $"doc_id2".as("d2"))
      .agg(count(lit(1)).as("i"))
    val jac = $"i" / ($"xn" + $"yn" - $"i")
    pairs
      .join(sz.select($"doc_id".as("d1"), $"n".as("xn")), "d1")
      .join(sz.select($"doc_id".as("d2"), $"n".as("yn")), "d2")
      .filter(jac >= minJac)
      .select($"d1", $"d2", jac.as("jacv"))
  }

  /** Shared LM-scored bigram frame for x36 / x72: an add-one-smoothed
    * bigram LM trained on the reference slice (doc_id % 10 == 0), every
    * OTHER doc's bigrams scored as (doc_id, p, lp) — p the bigram's
    * position, lp its conditional log-prob rounded at 6 decimals (the
    * cross-engine ln() ulp guard). The LM tables are VOCABULARY-sized
    * (bigram + unigram counts) and ride broadcast joins, so the corpus
    * side never shuffles before its per-doc aggregation. ONE definition
    * for both the mean filter (x36) and the Min-K% tail filter (x72),
    * so the model and scoring arithmetic cannot drift between them. */
  private[graft] def lmScored(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val bg = Tables.spread(s, dir, "documents")
      .select($"doc_id", T.wsTokens(lower($"text")).as("tk"))
      .filter(size($"tk") >= 2)
      .select($"doc_id", posexplode(T.bigramPairs($"tk")).as(Seq("p", "b")))
      .select($"doc_id", $"p", $"b.w1".as("w1"), $"b.w2".as("w2"))
    val ref = bg.filter($"doc_id" % 10 === 0).select($"w1", $"w2")
    val lm = ref.groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
      .withColumnRenamed("w1", "lw1").withColumnRenamed("w2", "lw2")
    val uni = ref.groupBy($"w1").agg(count(lit(1)).as("cw"))
      .withColumnRenamed("w1", "uw1")
    val v = ref.agg(countDistinct($"w2").as("vs"))
    bg.filter($"doc_id" % 10 =!= 0)
      // LM tables are vocabulary-sized: broadcast, corpus unshuffled
      .join(broadcast(lm), $"w1" === $"lw1" && $"w2" === $"lw2", "left")
      .join(broadcast(uni), $"w1" === $"uw1", "left")
      .crossJoin(broadcast(v))
      .select($"doc_id", $"p".cast("long").as("p"), round(log(
        (coalesce($"c", lit(0L)) + lit(1.0)) /
          (coalesce($"cw", lit(0L)) + $"vs")), 6).as("lp"))
  }

  /** SQL twin of [[lmScored]]: CTE chain ending in
    * `lsc(doc_id, p, lp)`. Shared by the x36 and x72 oracles. */
  private[graft] val sqlLmCtes: String =
    s"""lmtk AS (SELECT doc_id, ${TS.wsTokens("lower(text)")} AS tk
       |  FROM documents),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |    i -> {'p': i, 'w1': tk[CAST(i AS INT)],
       |          'w2': tk[CAST(i + 1 AS INT)]})) AS b
       |  FROM lmtk WHERE len(tk) >= 2),
       |ref AS (SELECT b['w1'] AS w1, b['w2'] AS w2 FROM bg
       |  WHERE doc_id % 10 = 0),
       |lm AS (SELECT w1, w2, count(*) AS c FROM ref GROUP BY 1, 2),
       |uni AS (SELECT w1, count(*) AS cw FROM ref GROUP BY 1),
       |vv AS (SELECT count(DISTINCT w2) AS vs FROM ref),
       |lsc AS (SELECT g.doc_id, CAST(g.b['p'] AS BIGINT) AS p,
       |    round(ln((coalesce(lm.c, 0) + 1.0) /
       |      (coalesce(uni.cw, 0) + vv.vs)), 6) AS lp
       |  FROM bg g
       |  LEFT JOIN lm ON g.b['w1'] = lm.w1 AND g.b['w2'] = lm.w2
       |  LEFT JOIN uni ON g.b['w1'] = uni.w1
       |  CROSS JOIN vv
       |  WHERE g.doc_id % 10 <> 0)""".stripMargin

  /** x70 body: PPJoin-style prefix-filtered EXACT set-similarity join
    * (Chaudhuri/Xiao's prefix-filtering principle) at Jaccard >= `t`
    * over the K-shingle sets. Each doc orders its shingles rarest-first
    * (global df ASC, hash ASC — exact integers, engine-identical) and
    * indexes only its PREFIX of length n - ceil(t*n) + 1: two sets with
    * Jaccard >= t MUST collide inside their prefixes, so candidate
    * generation from the prefix postings alone is LOSSLESS — unlike
    * LSH (x7) or sorted neighborhoods (x68), nothing is missed, and
    * unlike the full inverted index (x6) the postings carry only the
    * rarest ~(1-t) of each doc's shingles, exactly the tokens with the
    * SHORTEST posting lists. The symmetric length filter
    * (t*max(|x|,|y|) <= min(|x|,|y|)) prunes candidates before
    * verification; verification then joins the candidate pairs back to
    * the full per-doc hash arrays and computes exact Jaccard via one
    * in-row array intersection (no further shuffle of the postings).
    * At 100 TB this is the standard exact-dedup join: prefix postings
    * shrink the index ~2x at t=0.5 AND skip the frequent-shingle
    * hot keys entirely, while candidates stay provably complete. */
  private[graft] def ppjoinPairs(s: org.apache.spark.sql.SparkSession,
      dir: String, t: Double = 0.5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached: the md5-per-shingle projection is the expensive stage
    // and has THREE consumers (the postings explode and both sides of
    // the verification join) — the jaccardPairs discipline
    val tk = Tables.spread(s, dir, "documents")
      .select($"doc_id", T.wsTokens($"text").as("tks"))
      .filter(size($"tks") >= K)
      .select($"doc_id",
        transform(T.shingles($"tks", K), x => T.md5Long(x)).as("hs"))
      .cache()
    val sh = tk.select($"doc_id", explode($"hs").as("h"))
    val dfc = sh.groupBy($"h").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy($"doc_id")
    val ord = sh.join(dfc, "h")
      .withColumn("pos", row_number().over(byDoc.orderBy($"df", $"h")))
      .withColumn("n", count(lit(1)).over(byDoc))
    // cached: both sides of the prefix self-join reuse one
    // df-join + window pass
    val pre = ord.filter($"pos" <= $"n" - ceil($"n" * t) + 1).cache()
    val cand = pre.select($"doc_id".as("d1"), $"h", $"n".as("n1"))
      .join(pre.select($"doc_id".as("d2"), $"h".as("h2"), $"n".as("n2")),
        $"h" === $"h2" && $"d1" < $"d2" &&
          greatest($"n1", $"n2") * t <= least($"n1", $"n2"))
      .select($"d1", $"d2").distinct()
    val i = size(array_intersect($"h1", $"h2"))
    cand
      .join(tk.select($"doc_id".as("v1"), $"hs".as("h1")), $"d1" === $"v1")
      .join(tk.select($"doc_id".as("v2"), $"hs".as("h2")), $"d2" === $"v2")
      .select($"d1", $"d2",
        (i / (size($"h1") + size($"h2") - i)).as("jacv"))
      .filter($"jacv" >= t)
      .select($"d1", $"d2", round($"jacv", 6).as("jaccard"))
      .orderBy($"d1", $"d2")
  }

  /** x106 training budget in corpus characters — deliberately larger
    * than any single source so boosted small sources show epochs > 1
    * (the quantity the report exists to expose). */
  private val TrainBudgetChars = 2000000L

  /** x100 containment threshold as an exact rational (7/10): every
    * prefix length, length filter, and verification compares in long
    * arithmetic — no float τ boundary for the engines to disagree on. */
  private val CtNum = 7
  private val CtDen = 10

  /** x100 body: prefix-filtered EXACT containment join — the
    * asymmetric complement of [[ppjoinPairs]]'s Jaccard. Containment
    * C(A→B) = |A∩B|/|A| ≥ τ is the quote / sub-document detector
    * (boilerplate extraction, license-text propagation, contained
    * near-dups that symmetric Jaccard misses because |B| ≫ |A|
    * crushes the union term). Prefix filtering still applies but
    * one-sidedly: only the PROBE side (the contained candidate A)
    * prefixes — if none of A's rarest |A| − ⌈τ|A|⌉ + 1 shingles hits
    * B, the overlap is ≤ ⌈τ|A|⌉ − 1 < τ|A|, so probing A's prefix
    * against B's FULL postings is LOSSLESS. The asymmetric length
    * filter |B| ≥ ⌈τ|A|⌉ prunes before verification. At 100 TB the
    * probe side carries only the rarest ~(1−τ) of each doc (the
    * shortest posting lists); the full index is the same inverted
    * index the corpus already maintains for x6. */
  private[graft] def containmentPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = Tables.spread(s, dir, "documents")
      .select($"doc_id", T.wsTokens($"text").as("tks"))
      .filter(size($"tks") >= K)
      .select($"doc_id",
        transform(T.shingles($"tks", K), x => T.md5Long(x)).as("hs"))
      .cache()
    val sh = tk.select($"doc_id", explode($"hs").as("h"))
    val dfc = sh.groupBy($"h").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy($"doc_id")
    // only the PROBE side needs the df-ordered position (the expensive
    // df-join + per-doc window); the index side needs just (doc, h, n),
    // and n is a per-doc count that rides a (broadcastable) size table
    val ord = sh.join(dfc, "h")
      .withColumn("pos", row_number().over(byDoc.orderBy($"df", $"h")))
      .withColumn("n", count(lit(1)).over(byDoc))
    // ⌈τn⌉ in exact integers: (CtNum·n + CtDen − 1) div CtDen
    val pre = ord
      .filter($"pos" <=
        $"n" - expr(s"($CtNum * n + ${CtDen - 1}) div $CtDen") + 1)
      .select($"doc_id".as("d1"), $"h", $"n".as("n1"))
    val docN = tk.select($"doc_id", size($"hs").cast("long").as("n"))
    val full = sh.join(docN, "doc_id")
      .select($"doc_id".as("d2"), $"h".as("h2"), $"n".as("n2"))
    val cand = pre.join(full, $"h" === $"h2" && $"d1" =!= $"d2" &&
        $"n2" >= expr(s"($CtNum * n1 + ${CtDen - 1}) div $CtDen"))
      .select($"d1", $"d2").distinct()
    val i = size(array_intersect($"h1", $"h2"))
    cand
      .join(tk.select($"doc_id".as("v1"), $"hs".as("h1")), $"d1" === $"v1")
      .join(tk.select($"doc_id".as("v2"), $"hs".as("h2")), $"d2" === $"v2")
      .select($"d1", $"d2", size($"h1").cast("long").as("na"),
        size($"h2").cast("long").as("nb"), i.cast("long").as("i"))
      .filter($"i" * CtDen >= $"na" * CtNum)
      .select($"d1", $"d2", $"na", $"nb",
        round($"i" / $"na", 6).as("containment"))
      .orderBy($"d1", $"d2")
  }

  /** Bench warmup: run the shingle/hash/window/self-join stage shapes
    * on a ~1k-doc subset. The per-stage generated code depends only on
    * the operators inside each exchange-bounded stage, so these stages
    * produce the SAME codegen classes as the real x6/x19/x21 pipelines —
    * one warmup pass gets them janino-compiled and C2-hot without
    * precomputing any query result (the subset plan shares no cache key
    * with the full-table plans). */
  def warmup(s: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val part = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val docs = Tables(s, dir, "documents").limit(1024).repartition(part)
    val tk = docs.select($"doc_id", T.wsTokens($"text").as("tk"))
      .filter(size($"tk") >= K)
    val sh = tk.select($"doc_id", explode(T.shingles($"tk", K)).as("s"))
      .select($"doc_id", T.md5Long($"s").as("h"))
    val shf = sh
      .withColumn("c", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy($"h")))
      .filter($"c" <= DfCap).select($"doc_id", $"h")
    val shfB = shf.select($"h".as("h2"), $"doc_id".as("doc_id2"))
    shf.join(shfB, $"h" === $"h2" && $"doc_id" < $"doc_id2")
      .groupBy($"doc_id", $"doc_id2").agg(count(lit(1)).as("i")).count()
    // x21's bigram shape (k=2 over lowered text) + TakeOrdered
    docs.select(explode(
        T.shingles(T.wsTokens(lower($"text")), 2)).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("df"))
      .orderBy($"df".desc, $"bg").limit(5).count()
    // x14's term-explode + tf/df agg shape
    val terms = docs
      .select($"doc_id", explode(T.wsTokens(lower($"text"))).as("term"))
    terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .groupBy($"term").agg(count(lit(1)).as("df")).count()
    // x2/x27's quality-gate shapes: regex scrub, stopword-ratio HOF
    // filter, CASE cascade + the 1-row window ratio (these were the
    // four queries whose COLD times swung 4x in round 5 — their
    // generated classes now warm here instead of inside whichever of
    // them the sweep happens to hit first)
    val wtk = T.wsTokens($"text")
    val walpha = length(regexp_replace(lower($"text"), "[^a-z]", ""))
      .cast("double") / length($"text")
    val wstop = size(filter(wtk, w => w.isin(Stopwords: _*)))
      .cast("double") / size(wtk)
    val wstage = when(size(wtk) < 10, "a_too_short")
      .when(walpha < 0.5, "b_low_alpha")
      .when(wstop > 0.5, "c_high_stop")
      .otherwise("z_kept")
    docs.select($"doc_id", wstage.as("stage"))
      .groupBy($"stage").agg(count(lit(1)).as("n_docs"))
      .withColumn("pct", round($"n_docs" / sum($"n_docs")
        .over(org.apache.spark.sql.expressions.Window.partitionBy()), 6))
      .count()
    // x18's regex-extract/replace scrub shape and x20's key-shuffle +
    // rank-window resolve shape
    docs.select($"doc_id",
        size(T.bpeTokens($"text")).as("nb"),
        md5(regexp_replace($"text", "[0-9]+", "<NUM>")).as("fp"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"fp").orderBy($"doc_id")))
      .filter($"rn" === 1).count()
  }

  val qs: Map[String, Q] = Map(
    // ----- x1 token counting: whitespace + BPE-ish pre-tokenizer regex
    "x1_tokenize" -> Q(
      s"""SELECT doc_id,
         |  CAST(len(${TS.wsTokens("text")}) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(lower(text),
         |    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents").select($"doc_id",
        size(T.wsTokens($"text")).cast("long").as("ws_tokens"),
        size(T.bpeTokens($"text")).cast("long").as("bpe_tokens"))
        .orderBy($"doc_id")
    },

    // ----- x2 quality scoring: length/stopword/alpha ratios
    "x2_quality" -> Q(
      s"""WITH t AS (SELECT doc_id, text, ${TS.wsTokens("text")} AS tk
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  round(len(list_filter(tk, w -> w IN ($StopwordsSql))) / len(tk), 6)
         |    AS stop_ratio,
         |  round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
         |    / length(text), 6) AS alpha_ratio,
         |  round(least(len(tk) / 50.0, 1.0) *
         |    (1.0 - len(list_filter(tk, w -> w IN ($StopwordsSql))) / len(tk)),
         |    6) AS quality
         |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val tk = T.wsTokens($"text")
      val nStop = size(filter(tk, w => w.isin(Stopwords: _*))).cast("double")
      val nTok = size(tk)
      Tables(s, dir, "documents").select($"doc_id",
        nTok.cast("long").as("n_tokens"),
        round(nStop / nTok, 6).as("stop_ratio"),
        round(length(regexp_replace(lower($"text"), "[^a-z]", ""))
          .cast("double") / length($"text"), 6).as("alpha_ratio"),
        qualityCol(tk).as("quality"))
        .orderBy($"doc_id")
    },

    // ----- x3 language ID: marker-token profile argmax w/ fixed priority
    "x3_langid" -> Q({
      val cnts = LangMarkers.map { case (l, ms) =>
        s"len(list_filter(tk, w -> w IN (${ms.map(m => s"'$m'").mkString(", ")}))) AS c_$l"
      }.mkString(",\n         |  ")
      val langs = LangMarkers.map(_._1)
      val cases = langs.zipWithIndex.map { case (l, i) =>
        val geRest = langs.drop(i + 1).map(o => s"c_$l >= c_$o")
        val conds = (s"c_$l > 0" +: geRest).mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |c AS (SELECT doc_id, lang,
         |  $cnts
         |  FROM t)
         |SELECT doc_id, lang,
         |  CASE $cases ELSE 'und' END AS predicted,
         |  CAST(lang = CASE $cases ELSE 'und' END AS INT) AS agree
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val tk = T.wsTokens($"text")
      val cnts = LangMarkers.map { case (l, ms) =>
        l -> size(filter(tk, w => w.isin(ms: _*)))
      }
      val predicted = cnts.zipWithIndex.foldRight(lit("und")) {
        case (((l, c), i), els) =>
          val rest = cnts.drop(i + 1).map(_._2)
          val cond = rest.foldLeft(c > 0)((acc, o) => acc && c >= o)
          when(cond, lit(l)).otherwise(els)
      }
      Tables(s, dir, "documents").select($"doc_id", $"lang",
        predicted.as("predicted"),
        ($"lang" === predicted).cast("int").as("agree"))
        .orderBy($"doc_id")
    },

    // ----- x4 document fingerprint: md5 of whitespace-normalized text
    // (string + 48-bit integer forms)
    "x4_fingerprint" -> Q(
      s"""WITH t AS (SELECT doc_id,
         |  regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
         |  FROM documents)
         |SELECT doc_id, md5(norm) AS fp,
         |  ${TS.md5Long("norm")} AS fp_int
         |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val norm = regexp_replace(lower(trim($"text")), "\\s+", " ")
      Tables(s, dir, "documents").select($"doc_id",
        md5(norm).as("fp"), T.md5Long(norm).as("fp_int"))
        .orderBy($"doc_id")
    },

    // ----- x5 exact dedup: hash-groupBy on a content key, keep min id.
    // Key = first 8 tokens so the planted near-dup prefixes collide.
    // One shuffle on the key; at 100 TB this is the cheapest dedup pass.
    "x5_dedup_exact" -> Q(
      s"""WITH t AS (SELECT doc_id,
         |  md5(array_to_string((${TS.wsTokens("text")})[1:8], ' ')) AS key
         |  FROM documents)
         |SELECT key, CAST(min(doc_id) AS BIGINT) AS keep_id,
         |  CAST(count(*) AS BIGINT) AS n_members
         |FROM t GROUP BY key ORDER BY keep_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select($"doc_id",
          md5(concat_ws(" ", slice(T.wsTokens($"text"), 1, 8))).as("key"))
        .groupBy($"key")
        .agg(min($"doc_id").as("keep_id"),
          count(lit(1)).as("n_members"))
        .orderBy($"keep_id")
    },

    // ----- x22 deterministic weighted sample: md5-derived priority
    // u/w (heavier docs rank earlier in expectation), top-20 by
    // priority. Spark plans ORDER BY + LIMIT as TakeOrdered — each
    // partition keeps only its local top-20 and the driver merges k*p
    // rows, so the full table is never sorted or shuffled: the
    // weighted-reservoir shape at 100 TB. Priorities divide two exact
    // integers, so both engines order identically.
    "x22_weighted_sample" -> Q(
      s"""WITH t AS (SELECT doc_id, n_chars,
         |  ${TS.md5Long("CAST(doc_id AS VARCHAR) || '_s7'")} AS u
         |  FROM documents)
         |SELECT doc_id, CAST(n_chars AS BIGINT) AS w
         |FROM t ORDER BY CAST(u AS DOUBLE) / n_chars, doc_id
         |LIMIT 20""".stripMargin) { (s, dir) =>
      Tables(s, dir, "documents")
        .select($"doc_id", $"n_chars".cast("long").as("w"),
          T.md5Long(concat($"doc_id".cast("string"), lit("_s7"))).as("u"))
        .orderBy($"u".cast("double") / $"w", $"doc_id")
        .limit(20)
        .select($"doc_id", $"w")
    },

    // ----- x21 bigram corpus statistics: top-20 bigrams by document
    // frequency (n-gram LM profiling). Per-doc distinct shingling keeps
    // the count a document frequency; one hash-agg shuffle on the
    // bigram, then a global top-k (TakeOrdered — no full sort).
    "x21_bigrams" -> Q(
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("lower(text)")} AS tk
         |  FROM documents),
         |b AS (SELECT doc_id, unnest(${TS.shingles("tk", 2)}) AS bg
         |  FROM tk WHERE len(tk) >= 2),
         |c AS (SELECT bg, CAST(count(*) AS BIGINT) AS df FROM b GROUP BY 1)
         |SELECT bg, df FROM c ORDER BY df DESC, bg LIMIT 20""".stripMargin) {
      (s, dir) =>
        Tables.spread(s, dir, "documents")
          .select(explode(
            T.shingles(T.wsTokens(lower($"text")), 2)).as("bg"))
          .groupBy($"bg").agg(count(lit(1)).as("df"))
          .orderBy($"df".desc, $"bg")
          .limit(20)
    },

    // ----- x68 sorted-neighborhood dedup (Hernández/Stolfo SNM): sort
    // the corpus by a content key (first-8-token prefix), then compare
    // each doc ONLY with its ≤2 predecessors in sort order — near-dup
    // candidates come from sort-order LOCALITY, with no pair join and
    // no inverted index at all. The third member of the candidate-
    // generation family (x6 shingle index, x7 LSH bands, x68 sort
    // neighborhood), and on this corpus it recovers exactly x6's pair
    // set (duplicates share prefixes, so they sort adjacent). Scale
    // shape: ONE range-style shuffle on the coarse first-character
    // bucket + a local window per bucket — the window never crosses
    // partitions, so each bucket compares independently; the similarity
    // is x6's shingle Jaccard (shared TS spellings), exact-integer
    // intersection sizes.
    "x68_snm_dedup" -> Q(
      s"""WITH t0 AS (SELECT doc_id, ${TS.wsTokens("text")} AS tks
         |  FROM documents),
         |tk AS (SELECT doc_id, ${TS.shingles("tks", K)} AS sh,
         |    array_to_string(tks[1:8], ' ') AS key
         |  FROM t0 WHERE len(tks) >= $K),
         |w AS (SELECT doc_id, sh, key,
         |    lag(doc_id, 1) OVER win AS p1, lag(sh, 1) OVER win AS t1,
         |    lag(doc_id, 2) OVER win AS p2, lag(sh, 2) OVER win AS t2
         |  FROM tk WINDOW win AS (PARTITION BY substr(key, 1, 1)
         |    ORDER BY key, doc_id)),
         |cand AS (
         |  SELECT doc_id AS b, sh AS tb, p1 AS a, t1 AS ta FROM w
         |    WHERE p1 IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id, sh, p2, t2 FROM w WHERE p2 IS NOT NULL),
         |jac AS (SELECT least(a, b) AS d1, greatest(a, b) AS d2,
         |    round(len(list_intersect(ta, tb)) * 1.0 /
         |      (len(ta) + len(tb) - len(list_intersect(ta, tb))), 6)
         |      AS sim
         |  FROM cand)
         |SELECT d1, d2, sim FROM jac WHERE sim >= 0.5
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tk = Tables.spread(s, dir, "documents")
        .select($"doc_id", T.wsTokens($"text").as("tks"))
        .filter(size($"tks") >= K)
        .select($"doc_id", T.shingles($"tks", K).as("sh"),
          concat_ws(" ", slice($"tks", 1, 8)).as("key"))
      val win = Window.partitionBy(substring($"key", 1, 1))
        .orderBy($"key", $"doc_id")
      val w = tk.select($"doc_id", $"sh",
        lag($"doc_id", 1).over(win).as("p1"), lag($"sh", 1).over(win).as("t1"),
        lag($"doc_id", 2).over(win).as("p2"), lag($"sh", 2).over(win).as("t2"))
      val cand = w.filter($"p1".isNotNull)
        .select($"doc_id".as("b"), $"sh".as("tb"),
          $"p1".as("a"), $"t1".as("ta"))
        .union(w.filter($"p2".isNotNull)
          .select($"doc_id", $"sh", $"p2", $"t2"))
      val i = size(array_intersect($"ta", $"tb"))
      cand
        .select(least($"a", $"b").as("d1"), greatest($"a", $"b").as("d2"),
          round(i * lit(1.0) / (size($"ta") + size($"tb") - i), 6)
            .as("sim"))
        .filter($"sim" >= 0.5)
        .orderBy($"d1", $"d2")
    },

    // ----- x70 PPJoin prefix-filtered exact similarity join: the
    // LOSSLESS member of the candidate-generation family (x6 full
    // inverted index, x7 LSH bands, x68 sort neighborhood, x70 prefix
    // postings) — docs index only their rarest n-ceil(t*n)+1 shingles,
    // two sets at Jaccard >= t provably collide there, and the
    // symmetric length filter prunes before exact array-intersect
    // verification. See [[ppjoinPairs]] for the 100 TB analysis.
    "x70_ppjoin" -> Q(
      s"""WITH t0 AS (SELECT doc_id, ${TS.wsTokens("text")} AS tks
         |  FROM documents),
         |tk AS (SELECT doc_id, list_transform(${TS.shingles("tks", K)},
         |    ppjs_ -> ${TS.md5Long("ppjs_")}) AS hs
         |  FROM t0 WHERE len(tks) >= $K),
         |sh AS (SELECT doc_id, unnest(hs) AS h FROM tk),
         |dfc AS (SELECT h, count(*) AS df FROM sh GROUP BY 1),
         |ord AS (SELECT sh.doc_id, sh.h,
         |    row_number() OVER (PARTITION BY sh.doc_id
         |      ORDER BY dfc.df, sh.h) AS pos,
         |    count(*) OVER (PARTITION BY sh.doc_id) AS n
         |  FROM sh JOIN dfc ON sh.h = dfc.h),
         |pre AS (SELECT doc_id, h, n FROM ord
         |  WHERE pos <= n - ceil(n * 0.5) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id
         |    AND greatest(a.n, b.n) * 0.5 <= least(a.n, b.n)),
         |ver AS (SELECT d1, d2,
         |    len(list_intersect(x.hs, y.hs)) AS i,
         |    len(x.hs) AS na, len(y.hs) AS nb
         |  FROM cand JOIN tk x ON cand.d1 = x.doc_id
         |    JOIN tk y ON cand.d2 = y.doc_id)
         |SELECT d1, d2, round(i * 1.0 / (na + nb - i), 6) AS jaccard
         |FROM ver WHERE i * 1.0 / (na + nb - i) >= 0.5
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      ppjoinPairs(s, dir)
    },

    // ----- x100 prefix-filtered containment join (see
    // [[containmentPairs]]): directional quote / sub-document pairs at
    // C(A→B) = |A∩B|/|A| ≥ 7/10, probe-prefix against full postings,
    // every threshold comparison in exact long arithmetic.
    "x100_containment" -> Q(
      s"""WITH t0 AS (SELECT doc_id, ${TS.wsTokens("text")} AS tks
         |  FROM documents),
         |tk AS (SELECT doc_id, list_transform(${TS.shingles("tks", K)},
         |    ctjs_ -> ${TS.md5Long("ctjs_")}) AS hs
         |  FROM t0 WHERE len(tks) >= $K),
         |sh AS (SELECT doc_id, unnest(hs) AS h FROM tk),
         |dfc AS (SELECT h, count(*) AS df FROM sh GROUP BY 1),
         |ord AS (SELECT sh.doc_id, sh.h,
         |    row_number() OVER (PARTITION BY sh.doc_id
         |      ORDER BY dfc.df, sh.h) AS pos,
         |    count(*) OVER (PARTITION BY sh.doc_id) AS n
         |  FROM sh JOIN dfc ON sh.h = dfc.h),
         |pre AS (SELECT doc_id, h, n FROM ord
         |  WHERE pos <= n - ($CtNum * n + ${CtDen - 1}) // $CtDen + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM pre a JOIN ord b ON a.h = b.h AND a.doc_id <> b.doc_id
         |    AND b.n >= ($CtNum * a.n + ${CtDen - 1}) // $CtDen),
         |ver AS (SELECT d1, d2,
         |    CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS i,
         |    CAST(len(x.hs) AS BIGINT) AS na,
         |    CAST(len(y.hs) AS BIGINT) AS nb
         |  FROM cand JOIN tk x ON cand.d1 = x.doc_id
         |    JOIN tk y ON cand.d2 = y.doc_id)
         |SELECT d1, d2, na, nb, round(i * 1.0 / na, 6) AS containment
         |FROM ver WHERE i * $CtDen >= na * $CtNum
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      containmentPairs(s, dir)
    },

    // ----- x67 windowed co-occurrence lift (PMI numerator as an EXACT
    // integer): unordered word pairs within a ±2-token window, scored by
    // lift = P(a,b) / (P(a)·P(b)) in parts-per-million — the corpus
    // association statistic embedding/phrase pipelines derive (PMI is
    // ln(lift); ln is monotone, so ranking by integer lift IS ranking
    // by PMI with zero float risk — the same reason BM25/RRF integerize
    // before ranking). Pair extraction is per-doc array windowing
    // (offsets 1 and 2), NOT a positional self-join: zero shuffle
    // before the pair aggregation; word counts and the two scalar
    // totals broadcast. lift_ppm = n_pair·Nw²·1e6 div (N·n_a·n_b),
    // computed in 128-bit-wide integers (Spark DECIMAL(38,0), DuckDB
    // HUGEINT): Nw² alone passes 2^63 once the corpus holds ~3e9
    // tokens — and the ×1e6 scale pushed the numerator past long at
    // sf0.1 already — so the wide type is the exact-arithmetic
    // requirement, not padding. Products stay ≤ ~1e32 ≪ both
    // int128 and decimal(38); the quotient is back in ppm range.
    "x67_pmi_cooccur" -> Q(
      s"""WITH tk AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z]+') AS tk
         |  FROM documents),
         |px AS (${Seq(1, 2).map { o =>
          // one branch per offset: DuckDB's binder cannot resolve an
          // unnest(range(...)) whose bound references a joined column
          s"""SELECT tk[CAST(i AS INT)] AS a, tk[CAST(i + $o AS INT)] AS b
             |  FROM (SELECT tk, unnest(range(1, len(tk) + 1 - $o)) AS i
             |    FROM tk)""".stripMargin
        }.mkString("\n  UNION ALL\n  ")}),
         |pr AS (SELECT least(a, b) AS w1, greatest(a, b) AS w2
         |  FROM px WHERE a <> b),
         |np AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
         |  FROM pr GROUP BY 1, 2),
         |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n_w FROM (
         |  SELECT unnest(tk) AS w FROM tk) GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM pr) AS np_all,
         |  (SELECT CAST(sum(n_w) AS BIGINT) FROM wc) AS nw_all),
         |sc AS (SELECT w1, w2, n_pair,
         |    CAST((CAST(n_pair AS HUGEINT) * nw_all * nw_all * 1000000)
         |      // (CAST(np_all AS HUGEINT) * a.n_w * b.n_w)
         |      AS BIGINT) AS lift_ppm
         |  FROM np JOIN wc a ON a.w = np.w1 JOIN wc b ON b.w = np.w2
         |  CROSS JOIN tot WHERE n_pair >= 5)
         |SELECT w1, w2, n_pair, lift_ppm, CAST(row_number() OVER (
         |    ORDER BY lift_ppm DESC, w1, w2) AS BIGINT) AS rn
         |FROM sc ORDER BY rn LIMIT 20""".stripMargin) { (s, dir) =>
      val tk = Tables.spread(s, dir, "documents")
        .select(regexp_extract_all(lower($"text"), lit("[a-z]+"), lit(0))
          .as("tk"))
      val emptyPairs = array().cast(
        "array<struct<a:string,b:string>>")
      val pr = Seq(1, 2).map { o =>
        tk.select(explode(when(size($"tk") > o,
            transform(sequence(lit(1), size($"tk") - o),
              i => struct(element_at($"tk", i).as("a"),
                element_at($"tk", i + o).as("b"))))
          .otherwise(emptyPairs)).as("p"))
      }.reduce(_ union _)
        .select(least($"p.a", $"p.b").as("w1"),
          greatest($"p.a", $"p.b").as("w2"))
        .filter($"w1" =!= $"w2")
      val np = pr.groupBy($"w1", $"w2").agg(count(lit(1)).as("n_pair"))
      val wc = tk.select(explode($"tk").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("n_w"))
      val tot = pr.agg(count(lit(1)).as("np_all"))
        .crossJoin(wc.agg(sum($"n_w").as("nw_all")))
      np.join(broadcast(wc.select($"w".as("w1"), $"n_w".as("na"))), "w1")
        .join(broadcast(wc.select($"w".as("w2"), $"n_w".as("nb"))), "w2")
        .crossJoin(broadcast(tot))
        .filter($"n_pair" >= 5)
        .select($"w1", $"w2", $"n_pair",
          expr("(CAST(n_pair AS DECIMAL(38,0)) * nw_all * nw_all" +
            " * 1000000) div (CAST(np_all AS DECIMAL(38,0)) * na * nb)")
            .as("lift_ppm"))
        .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy($"lift_ppm".desc, $"w1", $"w2"))
          .cast("long"))
        .orderBy($"rn").limit(20)
    },

    // ----- x20 dedup resolution: keep the BEST doc per duplicate
    // cluster (longest text, doc_id tiebreak) — the canonical-selection
    // step that follows pair/cluster finding in a dedup pipeline (x5
    // keeps min-id; real pipelines keep max-quality). One shuffle on
    // the content key + a rank window.
    "x20_dedup_resolve" -> Q(
      s"""WITH k AS (SELECT doc_id, n_chars,
         |  md5(array_to_string((${TS.wsTokens("text")})[1:8], ' ')) AS key
         |  FROM documents),
         |r AS (SELECT key, doc_id, n_chars,
         |  row_number() OVER (PARTITION BY key
         |    ORDER BY n_chars DESC, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY key) AS dups FROM k)
         |SELECT key, CAST(doc_id AS BIGINT) AS keep_id,
         |  CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(dups AS BIGINT) AS n_members
         |FROM r WHERE rn = 1 ORDER BY key""".stripMargin) { (s, dir) =>
      val byKey = org.apache.spark.sql.expressions.Window.partitionBy($"key")
      Tables(s, dir, "documents")
        .select($"doc_id", $"n_chars",
          md5(concat_ws(" ", slice(T.wsTokens($"text"), 1, 8))).as("key"))
        .withColumn("rn", row_number()
          .over(byKey.orderBy($"n_chars".desc, $"doc_id")))
        .withColumn("dups", count(lit(1)).over(byKey))
        .filter($"rn" === 1)
        .select($"key", $"doc_id".as("keep_id"),
          $"n_chars".cast("long").as("n_chars"),
          $"dups".cast("long").as("n_members"))
        .orderBy($"key")
    },

    // ----- x6 n-gram Jaccard near-dup: sparse inverted-index self-join
    // on 3-shingles (never O(n²)), df-capped, threshold 0.5
    "x6_ngram_jaccard" -> Q(
      s"""WITH $pairCtes
         |SELECT d1, d2, round(jacv, 6) AS jaccard
         |FROM jac ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      jaccardPairs(s, dir)
        .select($"d1", $"d2", round($"jacv", 6).as("jaccard"))
        .orderBy($"d1", $"d2")
    },

    // ----- x112 edit-distance near-dup: the CHARACTER-level member of
    // the near-dup family (x6/x7/x8/x10 are all token-set or embedding
    // based — blind to small in-token edits and transpositions that
    // edit distance sees, and conversely a doc rewritten with the same
    // vocabulary fools them). Block-then-verify: candidates come from
    // the x6 shingle index at a LOOSE Jaccard (0.05 — recall stage,
    // never O(n²)), then exact Levenshtein on the raw text verifies
    // each candidate pair; output carries the distance, the
    // micro-integerized normalized similarity (floor(x*1e6+0.5), the
    // cross-engine rounding that never splits on banker's rounding),
    // and the ≥0.8 duplicate verdict. Scale shape: the corpus-sized
    // work is the audited x6 blocking; Levenshtein — O(len²) per pair,
    // FAR too hot for all-pairs — runs only on the candidate sliver,
    // attached by two id-equi joins.
    "x112_edit_neardup" -> Q(
      s"""WITH ${pairCtesP("", "0.05")}
         |SELECT d1, d2,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
         |  CAST(floor((1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
         |      / greatest(length(a.text), length(b.text))) * 1000000.0
         |    + 0.5) AS BIGINT) AS nsim6,
         |  (floor((1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
         |      / greatest(length(a.text), length(b.text))) * 1000000.0
         |    + 0.5) >= 800000) AS is_dup
         |FROM jac
         |JOIN documents a ON d1 = a.doc_id
         |JOIN documents b ON d2 = b.doc_id
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select($"doc_id", $"text")
      val nsim6 = floor((lit(1.0) - $"lev".cast("double") /
          greatest(length($"t1"), length($"t2"))) * lit(1000000.0)
        + lit(0.5)).cast("long")
      jaccardPairs(s, dir, minJac = 0.05).select($"d1", $"d2")
        .join(docs.select($"doc_id".as("d1"), $"text".as("t1")), "d1")
        .join(docs.select($"doc_id".as("d2"), $"text".as("t2")), "d2")
        .withColumn("lev", levenshtein($"t1", $"t2").cast("long"))
        .select($"d1", $"d2", $"lev", nsim6.as("nsim6"),
          (nsim6 >= 800000L).as("is_dup"))
        .orderBy($"d1", $"d2")
    },

    // ----- x19 near-dup clustering: connected components over the x6
    // pair graph (the "keep one doc per duplicate cluster" step after
    // pair finding) — ops.Components: bounded-collect driver union-find
    // when the thresholded pair graph is driver-sized (it almost always
    // is — the 100 TB lives in pair FINDING, not the pair list), with a
    // distributed min-label-propagation fallback above the edge cap.
    // Oracle: recursive-CTE transitive closure over the same pairs.
    "x19_components" -> Q(
      s"""WITH RECURSIVE $pairCtes,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jac
         |  UNION ALL SELECT d2, d1 FROM jac),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (SELECT n, n AS m FROM nodes
         |  UNION
         |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n),
         |comp AS (SELECT n, min(m) AS comp FROM reach GROUP BY n)
         |SELECT n AS doc_id, CAST(comp AS BIGINT) AS comp,
         |  CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS csize
         |FROM comp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.ops.Components
        .connected(jaccardPairs(s, dir).select($"d1", $"d2"))
        .orderBy($"doc_id")
    },

    // ----- x97 connected components by large-star/small-star
    // contraction (Kiveris et al.) — the SAME clustering answer as x19
    // computed by the O(log²)-round edge-rewrite algorithm instead of
    // x19's driver union-find / O(diameter) propagation. This is the
    // path a 100 TB dedup run with DEEP duplicate chains (boilerplate
    // families, near-identical template pages) takes: per round two
    // bounded groupBy+join rewrites over the edge list, never a
    // driver collect, never diameter-many rounds. Oracle: identical to
    // x19's recursive-CTE closure — the algorithm must not change the
    // answer, only the round count (ComponentsSpec pins both).
    "x97_cc_contract" -> Q(
      s"""WITH RECURSIVE $pairCtes,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jac
         |  UNION ALL SELECT d2, d1 FROM jac),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (SELECT n, n AS m FROM nodes
         |  UNION
         |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n),
         |comp AS (SELECT n, min(m) AS comp FROM reach GROUP BY n)
         |SELECT n AS doc_id, CAST(comp AS BIGINT) AS comp,
         |  CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS csize
         |FROM comp ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.ops.Components
        .contract(jaccardPairs(s, dir).select($"d1", $"d2"))
        .orderBy($"doc_id")
    },

    // ----- x93 canonical-by-quality cluster resolution (see
    // [[clusterResolve]]): keep each near-dup cluster's best-quality
    // member. The oracle composes x19's recursive-CTE components with
    // x2's quality formula and the argmax.
    "x93_cluster_resolve" -> Q(
      s"""WITH RECURSIVE $pairCtes,
         |edges AS (SELECT d1 AS a, d2 AS b FROM jac
         |  UNION ALL SELECT d2, d1 FROM jac),
         |nodes AS (SELECT DISTINCT a AS n FROM edges),
         |reach AS (SELECT n, n AS m FROM nodes
         |  UNION
         |  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n),
         |comp AS (SELECT n, min(m) AS comp FROM reach GROUP BY n),
         |cs AS (SELECT n AS doc_id, comp,
         |    count(*) OVER (PARTITION BY comp) AS csize FROM comp),
         |qq AS (SELECT doc_id,
         |    round(least(len(tk) / 50.0, 1.0) *
         |      (1.0 - len(list_filter(tk, w -> w IN ($StopwordsSql)))
         |        / len(tk)), 6) AS quality
         |  FROM tk),
         |r AS (SELECT cs.comp, cs.doc_id, qq.quality, cs.csize,
         |    row_number() OVER (PARTITION BY cs.comp
         |      ORDER BY qq.quality DESC, cs.doc_id) AS rn
         |  FROM cs JOIN qq USING (doc_id))
         |SELECT CAST(comp AS BIGINT) AS comp, doc_id AS keep_id,
         |  quality, CAST(csize AS BIGINT) AS n_members
         |FROM r WHERE rn = 1 ORDER BY comp""".stripMargin) {
      (s, dir) => clusterResolve(s, dir)
    },

    // ----- x7 MinHash + LSH banding: 16-hash signature, 4 bands x 4;
    // candidates = band-key collisions only; est sim = matching fraction
    "x7_minhash_lsh" -> Q({
      val sigCols = (0 until Sig)
        .map(i => s"${TS.minhash("arr", i)} AS h$i").mkString(",\n         |  ")
      val bandSel = (0 until Bands).map { b =>
        val ks = (0 until RowsPerBand)
          .map(r => s"h${b * RowsPerBand + r}").mkString(", ")
        s"SELECT doc_id, $b AS b, concat_ws('_', $ks) AS k FROM sig"
      }.mkString("\n         |  UNION ALL ")
      val estSum = (0 until Sig)
        .map(i => s"CASE WHEN x.h$i = y.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |sh AS (SELECT doc_id, ${TS.shingles("tk", K)} AS arr
         |  FROM tk WHERE len(tk) >= $K),
         |sig AS (SELECT doc_id,
         |  $sigCols
         |  FROM sh),
         |bands AS (
         |  $bandSel),
         |cand AS (SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.k = b.k
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, round(($estSum) / $Sig.0, 6) AS est_sim
         |FROM cand JOIN sig x ON cand.d1 = x.doc_id
         |  JOIN sig y ON cand.d2 = y.doc_id
         |WHERE ($estSum) / $Sig.0 >= 0.25
         |ORDER BY d1, d2""".stripMargin
    }) { (s, dir) => minhashLsh(s, dir) },

    // ----- x14 tf-idf: top-5 scored terms per document (SURVEY §7.5
    // "tokenize/tf-idf"). Scale shape: three key-partitioned shuffles —
    // (doc, term) count, term-frequency join on term, per-doc ranking
    // window — and the corpus size joins in as a broadcast 1-row agg.
    // The score is rounded BEFORE ranking so both engines rank
    // identically despite last-ulp ln() differences.
    "x14_tfidf" -> Q(
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("lower(text)")} AS tk
         |  FROM documents),
         |t AS (SELECT doc_id, unnest(tk) AS term FROM tk),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM tk),
         |sc AS (SELECT doc_id, tf.term,
         |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, tfidf, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn FROM sc)
         |SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rn
         |FROM r WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin) {
      (s, dir) => tfidfTop5(s, dir)
    },

    // ----- x47 BM25 retrieval: Robertson/Lucene scoring of every
    // candidate document (inverted-index semantics — only docs sharing
    // a term with the query are scored) for 4 corpus-drawn queries.
    // Per-term contributions integerized BEFORE the sum so the score
    // aggregation is order-independent exact integers in both engines.
    "x47_bm25" -> Q(
      s"""WITH ${sqlBm25Ctes}
         |SELECT qid, doc_id, bm25, CAST(rn AS BIGINT) AS rn
         |FROM bmr WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) {
      (s, dir) => bm25TopK(s, dir)
    },

    // ----- x113 positional phrase search (see [[phraseSearch]]):
    // Lucene PhraseQuery slop-0 semantics — conjunctive candidate
    // prune, then anchor-grouped positional intersection; overlapping
    // occurrences count. The oracle replays both stages: 1-based
    // struct-unnest positions vs Spark's 0-based posexplode cancel in
    // the (pos − idx) anchor, which never surfaces in the output.
    "x113_phrase_search" -> Q(
      s"""WITH ptk AS (SELECT doc_id,
         |    ${TS.wsTokens("lower(text)")} AS tk FROM documents),
         |pps AS (SELECT doc_id, unnest(list_transform(
         |    range(1, len(tk) + 1),
         |    i -> struct_pack(pos := i, term := tk[CAST(i AS INT)])))
         |    AS u FROM ptk),
         |ppos AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
         |    u.term AS term FROM pps),
         |pqp AS (SELECT doc_id AS qid, pos AS idx, term FROM ppos
         |  WHERE doc_id < 4 AND pos <= 3),
         |pneed AS (SELECT qid, count(DISTINCT term) AS nt FROM pqp
         |  GROUP BY 1),
         |pcand AS (SELECT q.qid, t.doc_id
         |  FROM (SELECT DISTINCT qid, term FROM pqp) q
         |  JOIN (SELECT DISTINCT doc_id, term FROM ppos) t USING (term)
         |  JOIN pneed n USING (qid)
         |  GROUP BY q.qid, t.doc_id HAVING count(*) = min(n.nt)),
         |phit AS (SELECT q.qid, p.doc_id, p.pos - q.idx AS anchor,
         |    q.idx
         |  FROM ppos p JOIN pqp q USING (term)
         |  JOIN pcand c ON c.qid = q.qid AND c.doc_id = p.doc_id),
         |pocc AS (SELECT qid, doc_id, anchor, count(DISTINCT idx) AS ni
         |  FROM phit GROUP BY 1, 2, 3),
         |pno AS (SELECT qid, doc_id, CAST(count(*) AS BIGINT) AS n_occ
         |  FROM pocc WHERE ni = 3 GROUP BY 1, 2),
         |pr AS (SELECT qid, doc_id, n_occ, row_number() OVER (
         |    PARTITION BY qid ORDER BY n_occ DESC, doc_id) AS rn
         |  FROM pno)
         |SELECT qid, doc_id, n_occ, CAST(rn AS BIGINT) AS rn
         |FROM pr WHERE rn <= 10 ORDER BY qid, rn""".stripMargin) {
      (s, dir) => phraseSearch(s, dir)
    },

    // ----- x117 proximity ranking (see [[proximityRank]]): smallest
    // window containing every distinct query term in any order — the
    // relevance signal between bag-of-words and exact phrase. The
    // oracle replays the lexicographic slotting, the conjunctive
    // prune, and the one-pass running-max sweep.
    "x117_proximity_rank" -> Q(
      s"""WITH ytk AS (SELECT doc_id,
         |    ${TS.wsTokens("lower(text)")} AS tk FROM documents),
         |yps AS (SELECT doc_id, unnest(list_transform(
         |    range(1, len(tk) + 1),
         |    i -> struct_pack(pos := i, term := tk[CAST(i AS INT)])))
         |    AS u FROM ytk),
         |ypos AS (SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
         |    u.term AS term FROM yps),
         |yqd AS (SELECT DISTINCT qid, term FROM (
         |  SELECT doc_id AS qid, unnest(tk[1:3]) AS term FROM ytk
         |  WHERE doc_id < 4 AND len(tk) >= 3)),
         |yqp AS (SELECT qid, term, row_number() OVER (
         |    PARTITION BY qid ORDER BY term) AS idx FROM yqd),
         |yneed AS (SELECT qid, count(*) AS nt FROM yqp GROUP BY 1),
         |ycand AS (SELECT q.qid, t.doc_id FROM yqp q
         |  JOIN (SELECT DISTINCT doc_id, term FROM ypos) t
         |    USING (term)
         |  JOIN yneed n USING (qid)
         |  GROUP BY q.qid, t.doc_id HAVING count(*) = min(n.nt)),
         |yhit AS (SELECT c.qid, p.doc_id, p.pos, q.idx, n.nt
         |  FROM ypos p JOIN yqp q USING (term)
         |  JOIN ycand c ON c.qid = q.qid AND c.doc_id = p.doc_id
         |  JOIN yneed n ON n.qid = q.qid),
         |ylast AS (SELECT qid, doc_id, pos, nt,
         |    max(CASE WHEN idx = 1 THEN pos END) OVER ysw AS m1,
         |    max(CASE WHEN idx = 2 THEN pos END) OVER ysw AS m2,
         |    max(CASE WHEN idx = 3 THEN pos END) OVER ysw AS m3
         |  FROM yhit
         |  WINDOW ysw AS (PARTITION BY qid, doc_id ORDER BY pos
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |yspan AS (SELECT qid, doc_id,
         |    CAST(pos - list_min(seen) + 1 AS BIGINT) AS span
         |  FROM (SELECT qid, doc_id, pos, nt,
         |      list_filter([m1, m2, m3], x -> x IS NOT NULL) AS seen
         |    FROM ylast)
         |  WHERE len(seen) = nt),
         |ywin AS (SELECT qid, doc_id, min(span) AS win FROM yspan
         |  GROUP BY 1, 2),
         |yr AS (SELECT qid, doc_id, win, row_number() OVER (
         |    PARTITION BY qid ORDER BY win, doc_id) AS rn FROM ywin)
         |SELECT qid, doc_id, win, CAST(rn AS BIGINT) AS rn
         |FROM yr WHERE rn <= 10 ORDER BY qid, rn""".stripMargin) {
      (s, dir) => proximityRank(s, dir)
    },

    // ----- x118 late-interaction (ColBERT MaxSim) reranking (see
    // [[lateInteractionRerank]]): the BM25 top-20 shortlist rescored
    // as Σ_{q term} max_{doc term} dot(E(q), E(d)) over deterministic
    // md5-derived integer token embeddings. Exact integer arithmetic
    // end to end — the oracle replays embedding, dot, max, and sum.
    "x118_late_interaction" -> Q(
      s"""WITH ${sqlBm25Ctes},
         |zsl AS (SELECT qid, doc_id FROM bmr WHERE rn <= 20),
         |zdocs AS (SELECT DISTINCT doc_id FROM zsl),
         |zterm AS (SELECT DISTINCT term FROM (
         |  SELECT tf.term FROM tf JOIN zdocs USING (doc_id)
         |  UNION ALL SELECT term FROM qt)),
         |zemb AS (SELECT term, list_transform(range(0, 8), zj_ ->
         |    (${TS.md5Long("term || ':' || CAST(zj_ AS VARCHAR)")}
         |      % 2001) - 1000) AS e FROM zterm),
         |zqe AS (SELECT qid, qt.term AS qterm, e AS qe
         |  FROM qt JOIN zemb ON zemb.term = qt.term),
         |zde AS (SELECT tf.doc_id, e AS de
         |  FROM tf JOIN zdocs USING (doc_id)
         |  JOIN zemb ON zemb.term = tf.term),
         |zdp AS (SELECT zl.qid, zl.doc_id, zq.qterm,
         |    CAST(list_sum(list_transform(range(1, 9), zk_ ->
         |      zq.qe[CAST(zk_ AS INT)] * zd.de[CAST(zk_ AS INT)]))
         |      AS BIGINT) AS dp
         |  FROM zsl zl JOIN zqe zq ON zq.qid = zl.qid
         |  JOIN zde zd ON zd.doc_id = zl.doc_id),
         |zms AS (SELECT qid, doc_id, qterm, max(dp) AS ms
         |  FROM zdp GROUP BY 1, 2, 3),
         |zsc AS (SELECT qid, doc_id, CAST(sum(ms) AS BIGINT) AS li
         |  FROM zms GROUP BY 1, 2),
         |zr AS (SELECT qid, doc_id, li, row_number() OVER (
         |    PARTITION BY qid ORDER BY li DESC, doc_id) AS rn FROM zsc)
         |SELECT qid, doc_id, li, CAST(rn AS BIGINT) AS rn
         |FROM zr WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) {
      (s, dir) => lateInteractionRerank(s, dir)
    },

    // ----- x119 query-likelihood (Dirichlet-smoothed LM) retrieval
    // (see [[lmDirichletTopK]]): Lucene's LMDirichlet decomposition —
    // matched postings contribute ln(1 + tf/(μ·ctf/|C|)) +
    // ln(μ/(dl+μ)), micro-integerized before the order-independent
    // sum. Same candidate generation and plan shape as x47.
    "x119_lm_dirichlet" -> Q(
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("lower(text)")} AS tk
         |  FROM documents),
         |dlr AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM tk),
         |t AS (SELECT doc_id, unnest(tk) AS term FROM tk),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |ctf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ctf FROM tf
         |  GROUP BY 1),
         |cl AS (SELECT CAST(sum(dl) AS DOUBLE) AS c_len FROM dlr),
         |qt AS (SELECT doc_id AS qid, term FROM tf WHERE doc_id < 4),
         |co AS (SELECT qt.qid, tf.doc_id,
         |    CAST(floor((ln(1.0 + (tf / (2000.0 * (ctf / c_len))))
         |      + ln(2000.0 / (dl + 2000.0))) * 1000000.0 + 0.5)
         |      AS BIGINT) AS ci
         |  FROM tf JOIN qt ON tf.term = qt.term AND tf.doc_id <> qt.qid
         |  JOIN ctf ON ctf.term = tf.term
         |  JOIN dlr ON dlr.doc_id = tf.doc_id
         |  CROSS JOIN cl),
         |qsc AS (SELECT qid, doc_id, CAST(sum(ci) AS BIGINT) AS ql
         |  FROM co GROUP BY 1, 2),
         |qr AS (SELECT qid, doc_id, ql, row_number() OVER (
         |    PARTITION BY qid ORDER BY ql DESC, doc_id) AS rn FROM qsc)
         |SELECT qid, doc_id, ql, CAST(rn AS BIGINT) AS rn
         |FROM qr WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) {
      (s, dir) => lmDirichletTopK(s, dir)
    },

    // ----- x75 WAND-style upper-bound-pruned BM25 (see [[bm25Wand]]):
    // per-term max contributions prune sub-threshold docs before the
    // rank; the top-k rows are provably identical to x47's, and the
    // cand/pruned counts expose the prune rate. The oracle replays the
    // ub table, the rarest-term threshold walk, and the prune.
    // ----- x110 cross-encoder reranking: the third retrieval stage
    // (x47 sparse / x13 dense retrieve → top-20 shortlist → PAIRWISE
    // model rerank → top-5). The scorer runs through the M3 seam —
    // broadcast model bytes + batched mapPartitions scoring
    // (ml.CrossEncoder), never a per-row UDF — with a deterministic
    // linear stand-in model whose integer arithmetic the oracle
    // replays exactly (weights 500000·overlap + 3000·Σmin(tf) +
    // bm25 − 100·dl). Scale shape: the expensive model touches ONLY
    // queries×20 shortlist pairs, never the corpus; feature assembly
    // is two posting equi-joins + one pair-sized rollup.
    "x110_rerank_cross" -> Q(
      s"""WITH ${sqlBm25Ctes},
         |sl AS (SELECT qid, doc_id, bm25 FROM bmr WHERE rn <= 20),
         |qv AS (SELECT doc_id AS qid, term, tf AS tfq FROM tf
         |  WHERE doc_id < 4),
         |ftr AS (SELECT sl.qid, sl.doc_id, sl.bm25,
         |    CAST(count(*) AS BIGINT) AS ov,
         |    CAST(sum(least(qv.tfq, d.tf)) AS BIGINT) AS smtf
         |  FROM sl JOIN qv ON qv.qid = sl.qid
         |  JOIN tf d ON d.doc_id = sl.doc_id AND d.term = qv.term
         |  GROUP BY 1, 2, 3),
         |sc AS (SELECT f.qid, f.doc_id,
         |    500000 * f.ov + 3000 * f.smtf + f.bm25 - 100 * dlr.dl
         |      AS ce_score
         |  FROM ftr f JOIN dlr ON dlr.doc_id = f.doc_id),
         |r AS (SELECT qid, doc_id, ce_score, row_number() OVER (
         |    PARTITION BY qid ORDER BY ce_score DESC, doc_id) AS rn
         |  FROM sc)
         |SELECT qid, doc_id, CAST(ce_score AS BIGINT) AS ce_score,
         |  CAST(rn AS BIGINT) AS rn
         |FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) {
      (s, dir) => rerankCross(s, dir)
    },

    // ----- x111 hard-negative mining: the retrieval-training data
    // prep step (DPR/ColBERT protocol) — per query, the top BM25
    // candidates EXCLUDING near-duplicates of the query itself; a
    // near-dup ranked as a "negative" is a false negative that
    // actively damages contrastive training, the reason every dense-
    // retrieval recipe filters them. Composes two audited relations
    // (x47's score table, x6's near-dup pair graph — prefixed CTE
    // bundle, shared definitions) through one anti-join; the rank
    // runs AFTER exclusion so the k negatives are all usable.
    "x111_hard_negatives" -> Q(
      s"""WITH ${pairCtesP("p_")}, ${sqlBm25Ctes},
         |ex AS (SELECT d1 AS qid, d2 AS nd FROM p_jac WHERE d1 < 4
         |  UNION ALL SELECT d2, d1 FROM p_jac WHERE d2 < 4),
         |hn AS (SELECT b.qid, b.doc_id, b.bm25 FROM bsc b
         |  LEFT JOIN ex ON ex.qid = b.qid AND ex.nd = b.doc_id
         |  WHERE ex.nd IS NULL),
         |r AS (SELECT qid, doc_id, bm25, row_number() OVER (
         |    PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rn
         |  FROM hn)
         |SELECT qid, doc_id, bm25, CAST(rn AS BIGINT) AS rn
         |FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin) {
      (s, dir) => hardNegatives(s, dir)
    },

    "x75_bm25_wand" -> Q(
      s"""WITH ${sqlBm25Ctes},
         |aci AS (SELECT tf.term, tf.doc_id, $sqlCi AS ci
         |  FROM tf JOIN df ON df.term = tf.term
         |  JOIN dlr ON dlr.doc_id = tf.doc_id CROSS JOIN st),
         |ub AS (SELECT term, max(ci) AS ub FROM aci GROUP BY 1),
         |rare AS (SELECT qid, term AS rterm FROM (
         |  SELECT qt.qid, qt.term, row_number() OVER (PARTITION BY
         |      qt.qid ORDER BY df.df, qt.term) AS rr
         |    FROM qt JOIN df USING (term)) WHERE rr = 1),
         |cand AS (SELECT qt.qid, a.doc_id, a.term, a.ci
         |  FROM qt JOIN aci a USING (term) WHERE a.doc_id <> qt.qid),
         |seed AS (SELECT r.qid, a.doc_id FROM rare r
         |  JOIN aci a ON a.term = r.rterm WHERE a.doc_id <> r.qid),
         |seedsc AS (SELECT c.qid, c.doc_id,
         |    CAST(sum(c.ci) AS BIGINT) AS sc
         |  FROM cand c JOIN seed sd
         |    ON c.qid = sd.qid AND c.doc_id = sd.doc_id
         |  GROUP BY 1, 2),
         |th AS (SELECT qid, coalesce(max(CASE WHEN rr = 5 THEN sc END),
         |    0) AS theta
         |  FROM (SELECT qid, sc, row_number() OVER (PARTITION BY qid
         |      ORDER BY sc DESC, doc_id) AS rr FROM seedsc)
         |  GROUP BY 1),
         |agg AS (SELECT c.qid, c.doc_id, CAST(sum(ub.ub) AS BIGINT)
         |      AS ubs, CAST(sum(c.ci) AS BIGINT) AS bm25, th.theta
         |  FROM cand c JOIN ub ON ub.term = c.term
         |  JOIN th ON th.qid = c.qid
         |  GROUP BY 1, 2, th.theta),
         |cnts AS (SELECT qid, CAST(count(*) AS BIGINT) AS cand_docs,
         |    CAST(sum(CASE WHEN ubs >= theta THEN 0 ELSE 1 END)
         |      AS BIGINT) AS pruned_docs
         |  FROM agg GROUP BY 1),
         |wrk AS (SELECT qid, doc_id, bm25, row_number() OVER (
         |    PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rn
         |  FROM agg WHERE ubs >= theta)
         |SELECT wrk.qid, wrk.doc_id, wrk.bm25, CAST(wrk.rn AS BIGINT)
         |    AS rn, cnts.cand_docs, cnts.pruned_docs
         |FROM wrk JOIN cnts USING (qid) WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin) {
      (s, dir) => bm25Wand(s, dir)
    },

    // ----- x61 pseudo-relevance-feedback expansion (RM3-style): the
    // top-3 BM25 docs per query feed back their 2 highest-weight NEW
    // terms (weight = summed integerized BM25 contribution within the
    // feedback set — exact longs, so term selection is
    // engine-identical), and round 2 re-scores the expanded query.
    // The classic recall-recovery move in sparse retrieval. Scale
    // shape: x47's posting-list equi-join chain run twice + one tiny
    // term-weight aggregation; corpus stats broadcast, one rank
    // exchange per round.
    "x61_prf_expansion" -> Q(
      s"""WITH ${sqlBm25Ctes},
         |fb AS (SELECT qid, doc_id FROM bmr WHERE rn <= 3),
         |cw AS (SELECT fb.qid, tf.term,
         |    CAST(sum($sqlCi) AS BIGINT) AS w
         |  FROM tf JOIN fb ON tf.doc_id = fb.doc_id
         |  JOIN df ON df.term = tf.term
         |  JOIN dlr ON dlr.doc_id = tf.doc_id
         |  CROSS JOIN st
         |  LEFT JOIN qt q0 ON q0.qid = fb.qid AND q0.term = tf.term
         |  WHERE q0.term IS NULL
         |  GROUP BY 1, 2),
         |expn AS (SELECT qid, term FROM (SELECT qid, term, row_number()
         |    OVER (PARTITION BY qid ORDER BY w DESC, term) AS rn
         |  FROM cw) WHERE rn <= 2),
         |qt2 AS (SELECT qid, term FROM qt UNION ALL
         |  SELECT qid, term FROM expn),
         |co2 AS (SELECT qt2.qid, tf.doc_id,
         |    $sqlCi AS ci
         |  FROM tf JOIN qt2 ON tf.term = qt2.term
         |    AND tf.doc_id <> qt2.qid
         |  JOIN df ON df.term = tf.term
         |  JOIN dlr ON dlr.doc_id = tf.doc_id
         |  CROSS JOIN st),
         |b2 AS (SELECT qid, doc_id, CAST(sum(ci) AS BIGINT) AS bm25_prf
         |  FROM co2 GROUP BY 1, 2),
         |r2 AS (SELECT qid, doc_id, bm25_prf, row_number() OVER (
         |    PARTITION BY qid ORDER BY bm25_prf DESC, doc_id) AS rn
         |  FROM b2)
         |SELECT qid, doc_id, bm25_prf, CAST(rn AS BIGINT) AS rn
         |FROM r2 WHERE rn <= 5 ORDER BY qid, rn""".stripMargin) {
      (s, dir) => prfExpand(s, dir)
    },

    // ----- x24 RAG chunking: overlapping sliding token windows
    // (size 32, stride 16) per document — the context-window chunker a
    // retrieval pipeline runs before embedding. Pure generator
    // projection (sequence+explode+slice): zero shuffles, perfectly
    // parallel at any scale; chunk identity = md5 of the joined window.
    "x24_chunk" -> Q(
      s"""WITH t AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |c AS (SELECT doc_id, tk, unnest(range(0, greatest(1,
         |    CAST(ceil((len(tk) - ${ChunkSize - ChunkStride})
         |      / ${ChunkStride}.0) AS BIGINT)))) AS chunk_id
         |  FROM t)
         |SELECT doc_id, chunk_id,
         |  CAST(len(tk[CAST(chunk_id * $ChunkStride + 1 AS INT)
         |    : CAST(chunk_id * $ChunkStride + $ChunkSize AS INT)])
         |    AS BIGINT) AS n_tokens,
         |  md5(array_to_string(tk[CAST(chunk_id * $ChunkStride + 1 AS INT)
         |    : CAST(chunk_id * $ChunkStride + $ChunkSize AS INT)], ' '))
         |    AS chunk_hash
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      val nChunks = greatest(lit(1L),
        ceil((size($"tk") - (ChunkSize - ChunkStride)) / lit(ChunkStride.toDouble))
          .cast("long"))
      val chunk = slice($"tk", ($"chunk_id" * ChunkStride + 1).cast("int"),
        lit(ChunkSize))
      Tables(s, dir, "documents")
        .select($"doc_id", T.wsTokens($"text").as("tk"))
        .select($"doc_id", $"tk",
          explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
        .select($"doc_id", $"chunk_id",
          size(chunk).cast("long").as("n_tokens"),
          md5(concat_ws(" ", chunk)).as("chunk_hash"))
        .orderBy($"doc_id", $"chunk_id")
    },

    // ----- x125 sequence-packing audit: concatenate each source's
    // docs in doc_id order into one token stream, split at fixed
    // context windows (PackWindow tokens, GPT-style packing WITH
    // boundary splits), and report the numbers an epoch-sizing pass
    // needs — bins used, docs straddling a window boundary (the
    // fragmentation attention masking must handle), and last-bin fill.
    //
    // Scale shape: the metrics need each doc's global token OFFSET
    // within its source — a prefix sum, which a naive per-source
    // window serializes (one task per source at 100 TB). The body
    // runs the standard TWO-LEVEL distributed prefix sum instead:
    // (1) bucket docs by doc_id range, (2) per-(source, bucket)
    // token subtotals — a rollup, (3) a window over the tiny
    // subtotal table (rows = buckets, not docs) for bucket offsets,
    // broadcast back, (4) within-bucket cumsum, parallel across
    // buckets. The only corpus-sized exchange is the (source, bucket)
    // window partitioning; the serial window runs over the offsets
    // table. The ORACLE uses the plain global window — same math.
    "x125_pack_audit" -> Q(
      s"""WITH t AS (SELECT source, doc_id,
         |    CAST(len(${TS.wsTokens("text")}) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (SELECT source, doc_id, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM t),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN n_tok > 0 AND
         |        ((cum - n_tok) // $PackWindow) != ((cum - 1) // $PackWindow)
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
         |  FROM c GROUP BY source)
         |SELECT source, n_docs, n_tokens,
         |  (n_tokens + ${PackWindow - 1}) // $PackWindow AS n_bins,
         |  n_straddlers,
         |  CASE WHEN n_tokens > 0
         |    THEN ((n_tokens - ((n_tokens + ${PackWindow - 1})
         |        // $PackWindow - 1) * $PackWindow) * 1000000)
         |      // $PackWindow
         |    ELSE CAST(0 AS BIGINT) END AS tail_fill6
         |FROM g ORDER BY source""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // bounded collect: one row — the id range sizes the bucket
      // width so bucket COUNT (the level-2 window's row bound) stays
      // fixed at any corpus size
      val mxRow = Tables(s, dir, "documents")
        .agg(max($"doc_id")).first()
      // ceil division: truncating width would leave up to ~2x
      // PackBuckets bucket ids at id ranges just above a multiple
      val width =
        if (mxRow.isNullAt(0)) 1L
        else math.max(1L, (mxRow.getLong(0) + PackBuckets) / PackBuckets)
      val t = Tables(s, dir, "documents")
        .select($"source", $"doc_id",
          size(T.wsTokens($"text")).cast("long").as("n_tok"),
          expr(s"doc_id div $width").as("b"))
      // level 1: per-bucket subtotals (a rollup, corpus-parallel)
      val bt = t.groupBy($"source", $"b")
        .agg(sum($"n_tok").as("bt"))
      // level 2: bucket offsets — the window runs over the SUBTOTAL
      // table (rows = buckets), never the corpus
      val off = bt.withColumn("off",
        sum($"bt").over(Window.partitionBy($"source").orderBy($"b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - $"bt")
        .select($"source", $"b", $"off")
      // level 3: within-bucket cumsum, parallel across buckets; the
      // global offset is the broadcast bucket offset + local prefix
      val cum = t.join(broadcast(off), Seq("source", "b"))
        .withColumn("cum", $"off" + sum($"n_tok")
          .over(Window.partitionBy($"source", $"b").orderBy($"doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val g = cum.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        sum(when($"n_tok" > 0 &&
            expr(s"((cum - n_tok) div $PackWindow) != " +
              s"((cum - 1) div $PackWindow)"), 1L)
          .otherwise(0L)).as("n_straddlers"))
      g.withColumn("n_bins",
          expr(s"(n_tokens + ${PackWindow - 1}) div $PackWindow"))
        .withColumn("tail_fill6",
          when($"n_tokens" > 0,
            expr(s"((n_tokens - ((n_tokens + ${PackWindow - 1}) div " +
              s"$PackWindow - 1) * $PackWindow) * 1000000) div " +
              s"$PackWindow"))
            .otherwise(lit(0L)))
        .select($"source", $"n_docs", $"n_tokens", $"n_bins",
          $"n_straddlers", $"tail_fill6")
        .orderBy($"source")
    },

    // ----- x25 dataset mixture: per-language epoch (repeat) factors —
    // the "see low-resource sources N times per training pass" weighting
    // step. A narrow generator expansion (no shuffle): each row emits
    // its own repeats, weight-0 languages drop via an ordinary filter
    // that pushes to the scan.
    "x25_mixture" -> Q({
      val cases = MixtureWeights.map { case (l, w) =>
        s"WHEN '$l' THEN $w"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang,
         |  CASE lang $cases ELSE 0 END AS w FROM documents)
         |SELECT doc_id, lang, CAST(unnest(range(1, w + 1)) AS BIGINT)
         |  AS epoch
         |FROM t WHERE w > 0 ORDER BY doc_id, epoch""".stripMargin
    }) { (s, dir) =>
      val w = MixtureWeights.foldRight(lit(0L)) { case ((l, n), els) =>
        when($"lang" === l, lit(n.toLong)).otherwise(els)
      }
      Tables(s, dir, "documents")
        .withColumn("w", w)
        .filter($"w" > 0)
        .select($"doc_id", $"lang",
          explode(sequence(lit(1L), $"w")).as("epoch"))
        .orderBy($"doc_id", $"epoch")
    },

    // ----- x54 temperature-weighted mixture design (the GPT-3 /
    // LLaMA multinomial source weighting): per-source sampling share
    // w_i ∝ n_i^α with α = 0.5 — up-weighting small curated sources
    // against the web crawl — plus each source's boost over its
    // natural share. x25 APPLIES a mixture; this query DERIVES one
    // from the corpus. One partial-aggregated groupBy over the corpus
    // (shuffle carries one row per source), then pure arithmetic
    // against the broadcast 1-row totals. Determinism: sqrt is
    // IEEE-correctly-rounded in both engines, so integerize sqrt
    // FIRST (round ·1e6) and derive shares from the exact integer
    // total — no cross-row double summation anywhere.
    "x54_temperature_mixture" -> Q(
      s"""WITH $sqlMixtureCtes
         |SELECT source, n_docs, chars_total, share6, natural6,
         |  round(share6 * 1.0 / natural6, 4) AS boost
         |FROM u ORDER BY source""".stripMargin) { (s, dir) =>
      mixtureShares(s, dir)
        .select($"source", $"n_docs", $"chars_total", $"share6",
          $"natural6",
          round($"share6" * lit(1.0) / $"natural6", 4).as("boost"))
        .orderBy($"source")
    },

    // ----- x106 token-budget allocation: the planning table behind a
    // training run — given a fixed training budget, each source's
    // allocation under the x54 temperature shares (ONE shared share
    // definition) and the implied EPOCH COUNT over that source's
    // actual data (alloc / corpus size, exact integer micro-epochs).
    // epochs ≫ 1 on a boosted small source is the data-constrained-
    // scaling warning (repeating data beyond ~4 epochs stops buying
    // loss — Muennighoff et al.), surfaced as `over_repeated`. All
    // arithmetic exact: budget·share6 div Σshare6, then ·1e6 div
    // chars. Scale shape: everything after the x54 aggregation is
    // |sources|-row arithmetic against one broadcast totals row.
    // 128-bit-wide intermediates (the x67 discipline): at a REAL
    // training budget (1e14 chars for a 100 TB corpus) both
    // budget·share6 and alloc·1e6 pass 2^63
    "x106_token_budget" -> Q(
      s"""WITH $sqlMixtureCtes,
         |tt AS (SELECT CAST(sum(share6) AS BIGINT) AS s6 FROM u)
         |SELECT u.source, u.chars_total, u.share6,
         |  CAST((CAST($TrainBudgetChars AS HUGEINT) * u.share6) // tt.s6
         |    AS BIGINT) AS alloc_chars,
         |  CAST((((CAST($TrainBudgetChars AS HUGEINT) * u.share6)
         |      // tt.s6) * 1000000)
         |    // u.chars_total AS BIGINT) AS epochs_micro,
         |  ((((CAST($TrainBudgetChars AS HUGEINT) * u.share6) // tt.s6)
         |      * 1000000)
         |    // u.chars_total) > 4000000 AS over_repeated
         |FROM u CROSS JOIN tt ORDER BY source""".stripMargin) {
      (s, dir) =>
      val u = mixtureShares(s, dir)
      val tt = u.agg(sum($"share6").as("s6tot"))
      u.crossJoin(broadcast(tt))
        .withColumn("alloc_chars",
          expr(s"(CAST($TrainBudgetChars AS DECIMAL(38,0)) * share6)" +
            " div s6tot"))
        .withColumn("epochs_micro",
          expr("(CAST(alloc_chars AS DECIMAL(38,0)) * 1000000)" +
            " div chars_total"))
        .select($"source", $"chars_total", $"share6", $"alloc_chars",
          $"epochs_micro",
          ($"epochs_micro" > 4000000L).as("over_repeated"))
        .orderBy($"source")
    },

    // ----- x84 curriculum emission: the deterministic interleaved
    // TRAINING ORDER that realizes x54's mixture design (ONE shared
    // share definition) — the final artifact a data pipeline hands to
    // the trainer. Each doc draws a deterministic 48-bit priority key
    // and its virtual time is key / share6: in any prefix of the
    // vt-sorted stream, a source with twice the share contributes
    // ~twice the docs (the weighted-round-robin / virtual-clock
    // scheduling identity), and the order is reproducible across
    // engines, row orders, and partitionings — no RNG state. Scale
    // shape: vt is a pure projection; the top-N prefix is an
    // orderBy+limit, which Spark executes as TakeOrdered (per-
    // partition heaps + driver merge of N rows, the x22 economy) —
    // the full stream would be write-partitioned by vt range instead.
    "x84_curriculum" -> Q(
      s"""WITH $sqlMixtureCtes,
         |vt AS (SELECT d.doc_id, d.source,
         |    ${TS.md5Long("CAST(d.doc_id AS VARCHAR) || '_cur'")}
         |      * 1.0 / u.share6 AS vt
         |  FROM documents d JOIN u ON d.source = u.source),
         |top AS (SELECT doc_id, source, vt FROM vt
         |  ORDER BY vt, doc_id LIMIT 200)
         |SELECT CAST(row_number() OVER (ORDER BY vt, doc_id)
         |    AS BIGINT) AS pos, doc_id, source
         |FROM top ORDER BY pos""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val shares = mixtureShares(s, dir).select($"source", $"share6")
      val vt = Tables(s, dir, "documents")
        .select($"doc_id", $"source")
        // shares are |sources| rows: broadcast, corpus unshuffled
        .join(broadcast(shares), "source")
        .select($"doc_id", $"source",
          (T.md5Long(concat($"doc_id".cast("string"), lit("_cur")))
            * lit(1.0) / $"share6").as("vt"))
      vt.orderBy($"vt", $"doc_id").limit(200)
        .withColumn("pos", row_number()
          .over(Window.orderBy($"vt", $"doc_id")).cast("long"))
        .select($"pos", $"doc_id", $"source")
        .orderBy($"pos")
    },

    // ----- x55 corpus-prep pipeline: the END-TO-END batch composition
    // a training-data run actually executes — quality gates (x2's
    // metrics) → first-occurrence
    // exact dedup (x5's 8-token content key, one map-side-combinable
    // min_by exchange) → benchmark decontamination (x26's 3-shingle
    // containment against the held-out doc_id%20 slice) — as ONE
    // oracle-checked query. Each stage is an already-oracle-green
    // operator composed unchanged, so the pipeline is pinned stage by
    // stage AND end to end.
    // Scale: the gates are a pure projection, dedup shuffles one row
    // per content key, and decontamination broadcasts the small
    // benchmark shingle index — the corpus never reshuffles after the
    // dedup exchange.
    "x55_corpus_prep" -> Q(
      s"""WITH t AS (SELECT doc_id, text, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |q AS (SELECT doc_id, tk,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    round(len(list_filter(tk, w -> w IN ($StopwordsSql)))
         |      / len(tk), 6) AS stop_ratio,
         |    round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
         |      / length(text), 6) AS alpha_ratio
         |  FROM t),
         |g AS (SELECT * FROM q WHERE n_tokens >= 5
         |  AND alpha_ratio >= 0.4 AND stop_ratio <= 0.8
         |  AND doc_id % 20 <> 0),
         |k AS (SELECT doc_id, n_tokens, stop_ratio, alpha_ratio, tk,
         |    md5(array_to_string(tk[1:8], ' ')) AS key FROM g),
         |surv AS (SELECT min(doc_id) AS doc_id,
         |    min_by(n_tokens, doc_id) AS n_tokens,
         |    min_by(stop_ratio, doc_id) AS stop_ratio,
         |    min_by(alpha_ratio, doc_id) AS alpha_ratio,
         |    min_by(tk, doc_id) AS tk
         |  FROM k GROUP BY key),
         |sh AS (SELECT DISTINCT doc_id, ${TS.md5Long("s")} AS h FROM (
         |  SELECT doc_id, unnest(${TS.shingles("tk", K)}) AS s
         |  FROM surv WHERE len(tk) >= $K)),
         |bench AS (SELECT DISTINCT doc_id AS bd, ${TS.md5Long("s")} AS h
         |  FROM (SELECT doc_id, unnest(${TS.shingles("tk", K)}) AS s
         |    FROM t WHERE doc_id % 20 = 0 AND len(tk) >= $K)),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |bad AS (SELECT DISTINCT cd FROM (
         |    SELECT sh.doc_id AS cd, bd, count(*) AS i
         |    FROM sh JOIN bench USING (h) GROUP BY 1, 2) ov
         |  JOIN sz ON ov.cd = sz.doc_id WHERE i / n >= 0.2)
         |SELECT doc_id, n_tokens, stop_ratio, alpha_ratio
         |FROM surv WHERE doc_id NOT IN (SELECT cd FROM bad)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      corpusPrepSurvivors(s, dir)
        .select($"doc_id", $"n_tokens", $"stop_ratio", $"alpha_ratio")
        .orderBy($"doc_id")
    },

    // ----- x107 dataset-release manifest: the artifact a data team
    // actually ships — x55's prepared corpus (quality → exact dedup →
    // decontamination, ONE shared body), stamped with x59's
    // deterministic split, with cross-split near-dup leakage RESOLVED:
    // for every x6-grade pair straddling a boundary, the
    // lower-precedence member (train < val < test) is dropped, so an
    // eval doc never keeps a near-twin in training — the fix x102
    // reports the need for, applied. Output = (doc_id, split), the
    // reproducible release list. Scale shape: the prep and pair
    // machinery are the audited surfaces; the resolution itself is two
    // equi joins on the (small) pair list plus an anti-join.
    "x107_release_manifest" -> Q(
      s"""WITH $pairCtes,
         |r_t AS (SELECT doc_id, text, ${TS.wsTokens("text")} AS rtk
         |  FROM documents),
         |r_q AS (SELECT doc_id, rtk,
         |    CAST(len(rtk) AS BIGINT) AS n_tokens,
         |    round(len(list_filter(rtk, w -> w IN ($StopwordsSql)))
         |      / len(rtk), 6) AS stop_ratio,
         |    round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
         |      / length(text), 6) AS alpha_ratio
         |  FROM r_t),
         |r_g AS (SELECT * FROM r_q WHERE n_tokens >= 5
         |  AND alpha_ratio >= 0.4 AND stop_ratio <= 0.8
         |  AND doc_id % 20 <> 0),
         |r_k AS (SELECT doc_id, rtk,
         |    md5(array_to_string(rtk[1:8], ' ')) AS key FROM r_g),
         |r_surv AS (SELECT min(doc_id) AS doc_id,
         |    min_by(rtk, doc_id) AS rtk FROM r_k GROUP BY key),
         |r_sh AS (SELECT DISTINCT doc_id, ${TS.md5Long("s")} AS h FROM (
         |  SELECT doc_id, unnest(${TS.shingles("rtk", K)}) AS s
         |  FROM r_surv WHERE len(rtk) >= $K)),
         |r_bench AS (SELECT DISTINCT doc_id AS bd,
         |    ${TS.md5Long("s")} AS h
         |  FROM (SELECT doc_id, unnest(${TS.shingles("rtk", K)}) AS s
         |    FROM r_t WHERE doc_id % 20 = 0 AND len(rtk) >= $K)),
         |r_sz AS (SELECT doc_id, count(*) AS n FROM r_sh GROUP BY 1),
         |r_bad AS (SELECT DISTINCT cd FROM (
         |    SELECT r_sh.doc_id AS cd, bd, count(*) AS i
         |    FROM r_sh JOIN r_bench USING (h) GROUP BY 1, 2) ov
         |  JOIN r_sz ON ov.cd = r_sz.doc_id WHERE i / n >= 0.2),
         |rel0 AS (SELECT doc_id FROM r_surv
         |  WHERE doc_id NOT IN (SELECT cd FROM r_bad)),
         |spl AS (SELECT doc_id, CASE WHEN b < 80 THEN 'train'
         |    WHEN b < 90 THEN 'val' ELSE 'test' END AS split FROM (
         |  SELECT doc_id,
         |    ${TS.md5Long("CAST(doc_id AS VARCHAR) || '_split'")} % 100
         |      AS b
         |  FROM rel0)),
         |leak AS (SELECT d1, d2, a.split AS s1, b.split AS s2
         |  FROM jac JOIN spl a ON d1 = a.doc_id
         |  JOIN spl b ON d2 = b.doc_id WHERE a.split <> b.split),
         |drp AS (SELECT DISTINCT CASE WHEN
         |    (CASE s1 WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2 END)
         |    > (CASE s2 WHEN 'train' THEN 0 WHEN 'val' THEN 1 ELSE 2
         |      END) THEN d1 ELSE d2 END AS doc_id FROM leak)
         |SELECT doc_id, split FROM spl
         |WHERE doc_id NOT IN (SELECT doc_id FROM drp)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // cached: resolveLeakage consumes the release relation THREE
      // times (both leak-pair orientations + the final anti-join);
      // without the pin the whole prep chain (gates → dedup →
      // decontamination) re-runs per consumer. Tiny frame (doc_id,
      // split), expensive lineage — the canonical cache candidate.
      // The pair stage reuses the prep chain's CACHED hashed-shingle
      // frame, so the manifest tokenizes AND shingles the corpus
      // once, not once per stage.
      val (shAll, surv) = corpusPrepFrames(s, dir)
      resolveLeakage(
        surv.select($"doc_id", T.splitOf($"doc_id").as("split"))
          .cache(),
        jaccardPairsFromShingles(shAll).select($"d1", $"d2"))
        .orderBy($"doc_id")
    },

    // ----- x108 per-source quality profile: each source's quality
    // DISTRIBUTION (exact quartiles + integer mean, all in micro-
    // quality units) — the governance report that catches a degrading
    // source before it pollutes a mixture (x54 weights by volume; this
    // is the quality axis beside it). ONE shared quality definition
    // with x2/x93, integerized before any cross-row arithmetic;
    // quartiles by exact rank selection (a7's discipline — the
    // mergeable sketch replaces the sort at 100 TB, the exact form is
    // what the oracle verifies bit-for-bit).
    "x108_quality_profile" -> Q(
      s"""WITH tk AS (SELECT doc_id, source, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |q AS (SELECT doc_id, source,
         |    CAST(round(round(least(len(tk) / 50.0, 1.0) *
         |      (1.0 - len(list_filter(tk, w -> w IN ($StopwordsSql)))
         |        / len(tk)), 6) * 1000000.0) AS BIGINT) AS q6
         |  FROM tk WHERE len(tk) >= 1),
         |r AS (SELECT source, q6,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY q6, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n,
         |    sum(q6) OVER (PARTITION BY source) AS sq FROM q)
         |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
         |  CAST(max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT)
         |    THEN q6 END) AS BIGINT) AS p25_q6,
         |  CAST(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
         |    THEN q6 END) AS BIGINT) AS p50_q6,
         |  CAST(max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT)
         |    THEN q6 END) AS BIGINT) AS p75_q6,
         |  CAST(max(sq) // max(n) AS BIGINT) AS mean_q6
         |FROM r GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val q = qualityBySource(s, dir)
      val bySrc = Window.partitionBy($"source")
      val r = q
        .withColumn("rn",
          row_number().over(bySrc.orderBy($"q6", $"doc_id")))
        .withColumn("n", count(lit(1)).over(bySrc))
        .withColumn("sq", sum($"q6").over(bySrc))
      def at(p: Double) =
        max(when($"rn" === ceil(lit(p) * $"n").cast("long"), $"q6"))
          .cast("long")
      r.groupBy($"source").agg(
          max($"n").cast("long").as("n_docs"),
          at(0.25).as("p25_q6"), at(0.5).as("p50_q6"),
          at(0.75).as("p75_q6"),
          expr("max(sq) div max(n)").as("mean_q6"))
        .orderBy($"source")
    },

    // ----- x126 per-source DATA drift: the corpus-side twin of the
    // model-version drift verbs (r11) — per source, how far the
    // CANDIDATE half's quality distribution (odd doc_ids) moved from
    // the REFERENCE half's (even doc_ids), over ten fixed integer
    // quality-decile buckets of x2/x108's SHARED q6 definition.
    // Two statistics per source, both add-1-smoothed over the full
    // bucket scaffold so an empty bucket is evidence, not a crash:
    // total-variation distance in ppm — EXACT integer end to end
    // (the |c·R − r·C| cross-products widen to 128-bit like x67:
    // count × count passes 2^63 near ~3e9 docs/side, so the wide
    // type is the exactness requirement, not padding) — and the
    // published PSI, per-bucket micro-integerized BEFORE the sum
    // (x119's ln discipline) so the rollup is order-independent.
    // The governance report that catches a drifting crawl BEFORE
    // x54/x84 mix it into training. Scale shape: one corpus pass to
    // bucket counts (map-side combinable), then every frame is
    // |sources|×10; the scaffold join and totals broadcast.
    "x126_psi_drift" -> Q(
      s"""WITH tk AS (SELECT doc_id, source, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |q AS (SELECT doc_id, source,
         |    CAST(round(round(least(len(tk) / 50.0, 1.0) *
         |      (1.0 - len(list_filter(tk, w -> w IN ($StopwordsSql)))
         |        / len(tk)), 6) * 1000000.0) AS BIGINT) AS q6
         |  FROM tk WHERE len(tk) >= 1),
         |b AS (SELECT source, doc_id % 2 = 0 AS is_ref,
         |    least(q6 // 100000, 9) AS bucket FROM q),
         |g AS (SELECT source, bucket,
         |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
         |      AS r,
         |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
         |      AS c
         |  FROM b GROUP BY 1, 2),
         |sb AS (SELECT source, unnest(range(0, 10)) AS bucket
         |  FROM (SELECT DISTINCT source FROM q)),
         |f AS (SELECT sb.source, sb.bucket,
         |    coalesce(r, 0) + 1 AS r1, coalesce(c, 0) + 1 AS c1
         |  FROM sb LEFT JOIN g ON sb.source = g.source
         |    AND sb.bucket = g.bucket),
         |t AS (SELECT source, CAST(sum(r1) AS BIGINT) AS rt,
         |    CAST(sum(c1) AS BIGINT) AS ct FROM f GROUP BY 1),
         |d AS (SELECT f.source, rt, ct,
         |    abs(CAST(c1 AS HUGEINT) * rt - CAST(r1 AS HUGEINT) * ct)
         |      AS tvnum,
         |    CAST(floor((c1 * 1.0 / ct - r1 * 1.0 / rt) *
         |      ln((c1 * 1.0 / ct) / (r1 * 1.0 / rt)) * 1000000.0
         |      + 0.5) AS BIGINT) AS psi6b
         |  FROM f JOIN t USING (source))
         |SELECT source, CAST(max(rt) - 10 AS BIGINT) AS n_ref,
         |  CAST(max(ct) - 10 AS BIGINT) AS n_cand,
         |  CAST((CAST(1000000 AS HUGEINT) * sum(tvnum))
         |    // (2 * CAST(max(ct) AS HUGEINT) * max(rt)) AS BIGINT)
         |    AS tv_ppm,
         |  CAST(sum(psi6b) AS BIGINT) AS psi6
         |FROM d GROUP BY source ORDER BY source""".stripMargin) {
      (s, dir) =>
      // ONE count core + ONE read core, shared verbatim with the
      // drift monitor ([[graft.streaming.DriftMonitor]]) — live and
      // batch drift cannot diverge
      psiDriftOver(qualityBucketCounts(
        Tables.spread(s, dir, "documents")))
    },

    // ----- x57 cross-source overlap matrix: for every source pair,
    // how many exact content keys (x5's 8-token fingerprint) appear in
    // BOTH — the governance report that catches a crawl source leaking
    // into a curated one (or an eval set) before training. Scale
    // shape: distinct (source, key) first (one partial-agged
    // exchange), then the pair join is key-to-key equi (inverted-index
    // style, skew-bounded by how many sources share a key — ≤
    // |sources|², never corpus²); output is a ≤|sources|² matrix.
    "x57_source_overlap" -> Q(
      s"""WITH k AS (SELECT DISTINCT source,
         |    md5(array_to_string((${TS.wsTokens("text")})[1:8], ' '))
         |      AS key
         |  FROM documents)
         |SELECT k1.source AS src_a, k2.source AS src_b,
         |  CAST(count(*) AS BIGINT) AS shared_keys
         |FROM k k1 JOIN k k2 ON k1.key = k2.key
         |  AND k1.source < k2.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val k = Tables.spread(s, dir, "documents")
        .select($"source",
          md5(concat_ws(" ", slice(T.wsTokens($"text"), 1, 8)))
            .as("key"))
        .distinct()
      val k2 = k.select($"source".as("src_b"), $"key".as("key2"))
      k.join(k2, $"key" === $"key2" && $"source" < $"src_b")
        .groupBy($"source".as("src_a"), $"src_b")
        .agg(count(lit(1)).as("shared_keys"))
        .orderBy($"src_a", $"src_b")
    },

    // ----- x58 length-bucket batching report: docs assigned to
    // power-of-two token-length buckets (the standard padding-
    // minimization strategy for sequence batching), with per-bucket
    // fill efficiency (real tokens / padded capacity) — the numbers a
    // batching pipeline reads to choose its bucket edges. Bucket edges
    // are a fixed CASE ladder (no float log2, whose last-ulp behavior
    // at exact powers of two differs between engines). Pure
    // projection + one partial-agged exchange carrying one row per
    // bucket.
    "x58_length_buckets" -> Q(
      s"""WITH t AS (SELECT doc_id, len(${TS.wsTokens("text")}) AS n
         |  FROM documents),
         |b AS (SELECT doc_id, n,
         |    CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
         |      WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
         |      WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512
         |      ELSE 1024 END AS cap
         |  FROM t)
         |SELECT CAST(cap AS BIGINT) AS bucket_cap,
         |  CAST(count(*) AS BIGINT) AS docs,
         |  CAST(sum(n) AS BIGINT) AS tokens,
         |  CAST(count(*) * cap AS BIGINT) AS capacity,
         |  round(sum(n) * 1.0 / (count(*) * cap), 4) AS fill
         |FROM b GROUP BY cap ORDER BY bucket_cap""".stripMargin) {
      (s, dir) =>
      val n = size(T.wsTokens($"text")).cast("long")
      val cap = when(n <= 16, 16L).when(n <= 32, 32L)
        .when(n <= 64, 64L).when(n <= 128, 128L)
        .when(n <= 256, 256L).when(n <= 512, 512L).otherwise(1024L)
      Tables(s, dir, "documents")
        .select(n.as("n"), cap.as("cap"))
        .groupBy($"cap")
        .agg(count(lit(1)).as("docs"), sum($"n").as("tokens"))
        .select($"cap".as("bucket_cap"), $"docs", $"tokens",
          ($"docs" * $"cap").as("capacity"),
          round($"tokens" * lit(1.0) / ($"docs" * $"cap"), 4)
            .as("fill"))
        .orderBy($"bucket_cap")
    },

    // ----- x59 deterministic hash split: the reproducible
    // train/val/test assignment production data pipelines use instead
    // of seeded randomSplit (whose assignment depends on JVM, row
    // order, and partitioning): bucket = md5(doc_id ‖ salt) mod 100 →
    // [0,80) train, [80,90) val, rest test. Re-running on the same
    // corpus — on any engine — yields the same assignment, which is
    // what makes eval sets stable across reprocessing. Pure
    // projection + one 3-row aggregate.
    "x59_hash_split" -> Q(
      s"""WITH t AS (SELECT doc_id,
         |    ${TS.md5Long("CAST(doc_id AS VARCHAR) || '_split'")} % 100
         |      AS b
         |  FROM documents)
         |SELECT CASE WHEN b < 80 THEN 'train'
         |    WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS docs,
         |  round(count(*) * 1.0 / (SELECT count(*) FROM t), 4) AS share
         |FROM t GROUP BY 1 ORDER BY split""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir, "documents")
        .select($"doc_id", T.splitOf($"doc_id").as("split"))
      val n = t.agg(count(lit(1)).as("n_all"))
      t.select($"split")
        .groupBy($"split").agg(count(lit(1)).as("docs"))
        .crossJoin(broadcast(n))
        .select($"split", $"docs",
          round($"docs" * lit(1.0) / $"n_all", 4).as("share"))
        .orderBy($"split")
    },

    // ----- x102 cross-split leakage report: near-dup pairs straddling
    // the x59 train/val/test boundary — the eval-integrity audit a
    // pipeline runs AFTER splitting, because a random (hash) split
    // sends ~2·p·q of every near-dup cluster across the boundary and
    // each such pair inflates eval scores (the test doc is effectively
    // in training). Composes two already-audited surfaces with zero
    // new machinery: x6's lossy-free pair finding and x59's
    // deterministic split stamp (ONE shared definition each, so this
    // report cannot drift from either). The fix it feeds: drop the
    // eval-side member (or re-split by cluster, not by doc). Scale
    // shape: the pair list is the small side; the split stamp is a
    // pure projection — two equi joins, no new corpus pass.
    "x102_split_leakage" -> Q(
      s"""WITH $pairCtes,
         |sp AS (SELECT doc_id, CASE WHEN b < 80 THEN 'train'
         |    WHEN b < 90 THEN 'val' ELSE 'test' END AS split FROM (
         |  SELECT doc_id,
         |    ${TS.md5Long("CAST(doc_id AS VARCHAR) || '_split'")} % 100
         |      AS b
         |  FROM documents))
         |SELECT d1, d2, a.split AS split1, b.split AS split2,
         |  round(jacv, 6) AS jaccard
         |FROM jac JOIN sp a ON d1 = a.doc_id
         |JOIN sp b ON d2 = b.doc_id
         |WHERE a.split <> b.split ORDER BY d1, d2""".stripMargin) {
      (s, dir) =>
      val sp = Tables(s, dir, "documents")
        .select($"doc_id", T.splitOf($"doc_id").as("split"))
      jaccardPairs(s, dir)
        .join(sp.toDF("did1", "split1"), $"d1" === $"did1")
        .join(sp.toDF("did2", "split2"), $"d2" === $"did2")
        .filter($"split1" =!= $"split2")
        .select($"d1", $"d2", $"split1", $"split2",
          round($"jacv", 6).as("jaccard"))
        .orderBy($"d1", $"d2")
    },

    // ----- x105 13-gram collision decontamination: the PUBLISHED
    // protocol (GPT-3's appendix; The Pile and successors follow it)
    // — a training doc is flagged if it shares ANY 13-gram with the
    // benchmark set, a deliberately blunter rule than x26's
    // containment ratio because eval leakage at 13 contiguous tokens
    // is near-certain memorization surface regardless of the rest of
    // the doc. Exact, not sketched: a LEFT SEMI join (and its
    // complement) on the 48-bit 13-gram hash — candidate side reduces
    // to DISTINCT (doc, hash) first, benchmark side to a distinct
    // hash set. Output = the per-doc verdict with the collision
    // count (0 for clean docs — the production record is the keep
    // list plus attribution for the dropped). Scale shape: one keyed
    // join on the hash; at corpus scale the benchmark hash set is the
    // x31 bloom's build side — swap the join for the bloom probe +
    // confirm join, same discipline.
    "x105_decontam_13gram" -> Q(
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |sh AS (SELECT DISTINCT doc_id, ${TS.md5Long("s")} AS h FROM (
         |  SELECT doc_id, unnest(${TS.shingles("tk", 13)}) AS s
         |  FROM tk WHERE len(tk) >= 13)),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 20 = 0),
         |cand AS (SELECT doc_id, h FROM sh WHERE doc_id % 20 <> 0),
         |m AS (SELECT c.doc_id,
         |    CAST(sum(CASE WHEN b.h IS NULL THEN 0 ELSE 1 END)
         |      AS BIGINT) AS collisions
         |  FROM cand c LEFT JOIN bench b ON c.h = b.h GROUP BY 1)
         |SELECT doc_id, collisions, collisions > 0 AS contaminated
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val sh = Tables.spread(s, dir, "documents")
        .select($"doc_id", T.wsTokens($"text").as("tk"))
        .filter(size($"tk") >= 13)
        .select($"doc_id", explode(T.shingles($"tk", 13)).as("sg"))
        .select($"doc_id", T.md5Long($"sg").as("h"))
        .distinct()
      val bench = sh.filter($"doc_id" % 20 === 0).select($"h").distinct()
        .withColumn("hit", lit(1))
      sh.filter($"doc_id" % 20 =!= 0)
        .join(bench, Seq("h"), "left")
        .groupBy($"doc_id")
        .agg(sum(when($"hit".isNull, 0L).otherwise(1L)).as("collisions"))
        .select($"doc_id", $"collisions",
          ($"collisions" > 0).as("contaminated"))
        .orderBy($"doc_id")
    },

    // ----- x104 n-gram novelty scoring: per candidate doc, the
    // fraction of its distinct 3-shingles ABSENT from the reference
    // slice (x26's doc_id % 20 split convention) — the memorization /
    // novelty quantity (Lee et al.'s dedup-improves-LMs line of work
    // measures exactly this overlap): novelty ≈ 0 flags a doc the
    // model has effectively already seen, high novelty marks genuinely
    // new content worth its training slots. Exact integer ppm. Scale
    // shape: both sides reduce to DISTINCT (doc, hash) / (hash)
    // relations first, then ONE left join keyed on the 48-bit hash +
    // one per-doc count — no arrays cross the shuffle, and the
    // reference side is a deduplicated hash set (the same asset the
    // x31 bloom builds from; swap the join for the bloom probe when
    // the ref set outgrows a shuffle).
    "x104_novelty" -> Q(
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |sh AS (SELECT DISTINCT doc_id, ${TS.md5Long("s")} AS h FROM (
         |  SELECT doc_id, unnest(${TS.shingles("tk", K)}) AS s
         |  FROM tk WHERE len(tk) >= $K)),
         |ref AS (SELECT DISTINCT h FROM sh WHERE doc_id % 20 = 0),
         |cand AS (SELECT doc_id, h FROM sh WHERE doc_id % 20 <> 0),
         |m AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS novel
         |  FROM cand c LEFT JOIN ref r ON c.h = r.h GROUP BY 1)
         |SELECT doc_id, n_grams, novel,
         |  CAST((novel * 1000000) // n_grams AS BIGINT) AS novelty_ppm
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val sh = Tables.spread(s, dir, "documents")
        .select($"doc_id", T.wsTokens($"text").as("tk"))
        .filter(size($"tk") >= K)
        .select($"doc_id", explode(T.shingles($"tk", K)).as("sg"))
        .select($"doc_id", T.md5Long($"sg").as("h"))
        .distinct()
      val ref = sh.filter($"doc_id" % 20 === 0).select($"h").distinct()
        .withColumn("seen", lit(1))
      sh.filter($"doc_id" % 20 =!= 0)
        .join(ref, Seq("h"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when($"seen".isNull, 1L).otherwise(0L)).as("novel"))
        .select($"doc_id", $"n_grams", $"novel",
          expr("(novel * 1000000) div n_grams").as("novelty_ppm"))
        .orderBy($"doc_id")
    },

    // ----- x26 benchmark contamination check: 3-shingle containment of
    // each corpus doc against a (small) benchmark set. The benchmark
    // shingle index is BROADCAST — the 100 TB corpus side never
    // shuffles; decontamination is a map-side semi-join + a pair-sized
    // agg. Containment = |S_c ∩ S_b| / |S_c| over distinct shingles.
    "x26_contamination" -> Q(
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |sh AS (SELECT doc_id, ${TS.md5Long("s")} AS h FROM (
         |  SELECT doc_id, unnest(${TS.shingles("tk", K)}) AS s
         |  FROM tk WHERE len(tk) >= $K)),
         |corp AS (SELECT doc_id, h FROM sh WHERE doc_id % 20 <> 0),
         |bench AS (SELECT doc_id AS bd, h FROM sh WHERE doc_id % 20 = 0),
         |sz AS (SELECT doc_id, count(*) AS n FROM corp GROUP BY 1),
         |ov AS (SELECT corp.doc_id AS cd, bd, count(*) AS i
         |  FROM corp JOIN bench USING (h) GROUP BY 1, 2)
         |SELECT cd, bd, CAST(i AS BIGINT) AS overlap,
         |  round(i / n, 6) AS containment
         |FROM ov JOIN sz ON ov.cd = sz.doc_id
         |WHERE i / n >= 0.2 ORDER BY cd, bd""".stripMargin) { (s, dir) =>
      val sh = Tables.spread(s, dir, "documents")
        .select($"doc_id", T.wsTokens($"text").as("tk"))
        .filter(size($"tk") >= K)
        .select($"doc_id", explode(T.shingles($"tk", K)).as("s"))
        .select($"doc_id", T.md5Long($"s").as("h"))
      val corp = sh.filter($"doc_id" % 20 =!= 0)
      val bench = sh.filter($"doc_id" % 20 === 0)
        .select($"doc_id".as("bd"), $"h".as("bh"))
      val sz = corp.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      corp.join(broadcast(bench), $"h" === $"bh")
        .groupBy($"doc_id".as("cd"), $"bd")
        .agg(count(lit(1)).as("i"))
        .join(sz.select($"doc_id".as("cd"), $"n"), "cd")
        .filter($"i" / $"n" >= 0.2)
        .select($"cd", $"bd", $"i".as("overlap"),
          round($"i" / $"n", 6).as("containment"))
        .orderBy($"cd", $"bd")
    },

    // ----- x27 filter-pipeline yield report: attribute each document
    // to the FIRST quality gate it fails (the cascade a corpus-cleaning
    // pipeline applies), then a 4-row aggregate — drop accounting for a
    // 100 TB cleaning run in ONE pass over the corpus, no per-filter
    // rescans. CASE short-circuits identically in both engines, so
    // later gates never see rows (e.g. empty docs) an earlier gate
    // already dropped.
    "x27_filter_report" -> Q(
      s"""WITH t AS (SELECT doc_id, text, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |st AS (SELECT doc_id, CASE
         |    WHEN len(tk) < 10 THEN 'a_too_short'
         |    WHEN length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
         |      / length(text) < 0.5 THEN 'b_low_alpha'
         |    WHEN len(list_filter(tk, w -> w IN ($StopwordsSql)))
         |      / len(tk) > 0.5 THEN 'c_high_stop'
         |    ELSE 'z_kept' END AS stage FROM t)
         |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(count(*) / (SELECT count(*) FROM st), 6) AS pct
         |FROM st GROUP BY stage ORDER BY stage""".stripMargin) { (s, dir) =>
      val tk = T.wsTokens($"text")
      val alpha = length(regexp_replace(lower($"text"), "[^a-z]", ""))
        .cast("double") / length($"text")
      val stopRatio = size(filter(tk, w => w.isin(Stopwords: _*)))
        .cast("double") / size(tk)
      val stage = when(size(tk) < 10, "a_too_short")
        .when(alpha < 0.5, "b_low_alpha")
        .when(stopRatio > 0.5, "c_high_stop")
        .otherwise("z_kept")
      Tables(s, dir, "documents")
        .select($"doc_id", stage.as("stage"))
        .groupBy($"stage").agg(count(lit(1)).as("n_docs"))
        .withColumn("pct", round($"n_docs" / sum($"n_docs")
          .over(org.apache.spark.sql.expressions.Window.partitionBy()), 6))
        .orderBy($"stage")
    },

    // ----- x28 winnowed rolling-hash fingerprints: polynomial rolling
    // hash over token hashes (4-gram, base 33 mod 2^31-1), then the
    // winnowing min over each 5-gram window, distinct per doc — the
    // local-fingerprint selection scheme used for plagiarism-style
    // partial-overlap detection. Shape: posexplode tokens to rows, hash
    // each token ONCE (codegen md5), then gram = lead chain and
    // winnow-min = sliding frame — two window passes sharing ONE
    // doc_id exchange, + the distinct agg on the same key. (The nested
    // array_min(transform(sequence...)) formulation is a trap:
    // higher-order functions are interpreted, and CollapseProject
    // inlines the token-hash array into every gram reference —
    // O(n_tokens * md5) per ELEMENT. Windows keep md5 linear and
    // codegen'd.)
    "x28_winnow" -> Q(
      s"""WITH $sqlWinnowCtes
         |SELECT doc_id, fp FROM fpr
         |ORDER BY doc_id, fp""".stripMargin) { (s, dir) =>
      winnowFps(s, dir).orderBy($"doc_id", $"fp")
    },

    // ----- x60 winnowed-fingerprint overlap pairs (the MOSS /
    // plagiarism-detection pipeline, and the substring-level member of
    // the near-dup family): doc pairs sharing >= 2 winnowed rolling-
    // hash fingerprints — i.e. sharing verbatim token RUNS, which
    // MinHash/SimHash (bag-of-shingles) can miss and which catches
    // boilerplate/quotation reuse. Scale shape: x28's fingerprints are
    // already winnowed (≈1/4 the gram count), the hot-fingerprint
    // df-cap bounds the join fan-out exactly like x6's shingle cap,
    // and the pair join is fp-equi — never corpus².
    "x60_winnow_overlap" -> Q(
      s"""WITH $sqlWinnowCtes,
         |hot AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM fpr
         |    GROUP BY 1) WHERE c <= $DfCap),
         |cap AS (SELECT fpr.doc_id, fpr.fp FROM fpr JOIN hot USING (fp))
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(count(*) AS BIGINT) AS shared
         |FROM cap a JOIN cap b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val fps = winnowFps(s, dir)
      val hot = fps.groupBy($"fp").agg(count(lit(1)).as("c"))
        .filter($"c" <= DfCap).select($"fp")
      val cap = fps.join(hot, "fp")
      val b2 = cap.select($"doc_id".as("d2"), $"fp".as("fp2"))
      cap.select($"doc_id".as("d1"), $"fp")
        .join(b2, $"fp" === $"fp2" && $"d1" < $"d2")
        .groupBy($"d1", $"d2").agg(count(lit(1)).as("shared"))
        .filter($"shared" >= 2)
        .orderBy($"d1", $"d2")
    },

    // ----- x8 SimHash: 16-bit token-vote signature per document
    "x8_simhash" -> Q(
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents)
         |SELECT doc_id, ${TS.simhash("tk", 16)} AS simhash
         |FROM tk WHERE len(tk) >= 1 ORDER BY doc_id""".stripMargin) {
      (s, dir) => simhashed(s, dir).orderBy($"doc_id")
    },

    // ----- x81 SimHash near-dup pairs at Hamming <= 3 (Manku/Jain/
    // Das Sarma's web-crawl dedup, over x8's fingerprints — ONE shared
    // signature definition): the pigeonhole split of the 16-bit hash
    // into 4 bands of 4 bits guarantees two hashes within Hamming 3
    // agree EXACTLY on at least one band, so band-equi candidates are
    // LOSSLESS — the x70 prefix-filter insight applied to fingerprint
    // space; verification is one popcount(xor) per distinct candidate
    // pair. Scale shape: candidates come from |bands| equi-joins on
    // (band, chunk) — never an all-pairs or a Hamming-ball
    // enumeration; the verify predicate is pure integer codegen.
    "x81_simhash_dedup" -> Q(
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |sh AS (SELECT doc_id, ${TS.simhash("tk", 32)} AS h
         |  FROM tk WHERE len(tk) >= 1),
         |bnd AS (SELECT doc_id, h, b, (h >> (8 * b)) & 255 AS chunk
         |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, a.h AS h1,
         |    c.doc_id AS d2, c.h AS h2
         |  FROM bnd a JOIN bnd c ON a.b = c.b AND a.chunk = c.chunk
         |    AND a.doc_id < c.doc_id)
         |SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS ham
         |FROM cand WHERE bit_count(xor(h1, h2)) <= 3
         |ORDER BY d1, d2""".stripMargin) { (s, dir) =>
      val sh = simhashed(s, dir, bits = 32)
        .withColumnRenamed("simhash", "h")
      val bnd = sh.select($"doc_id", $"h",
          explode(sequence(lit(0), lit(3))).as("b"))
        .select($"doc_id", $"h", $"b",
          expr("shiftright(h, 8 * b) & 255").as("chunk"))
      val cand = bnd.join(bnd
          .select($"doc_id".as("d2"), $"h".as("h2"), $"b".as("b2"),
            $"chunk".as("chunk2")),
          $"b" === $"b2" && $"chunk" === $"chunk2" && $"doc_id" < $"d2")
        .select($"doc_id".as("d1"), $"h".as("h1"), $"d2", $"h2")
        .distinct()
      cand
        .withColumn("ham",
          bit_count($"h1".bitwiseXOR($"h2")).cast("long"))
        .filter($"ham" <= 3)
        .select($"d1", $"d2", $"ham")
        .orderBy($"d1", $"d2")
    },

    // ----- x30 C4-style line dedup, re-expressed over fixed 16-token
    // spans (this corpus has no newlines, so the "line" unit is a span;
    // the shape is identical): every span that appears anywhere in the
    // corpus keeps exactly its FIRST occurrence (min (doc_id, idx)) and
    // every other copy is dropped, then surviving spans reassemble into
    // documents in original order. Scale shape: the global dedup is a
    // groupBy on span content with a min(struct) — map-side combinable,
    // so the content exchange ships one candidate per span per task,
    // NOT one row per occurrence (a window/row_number spelling would
    // ship every occurrence) — then one doc_id exchange to reassemble.
    // Two exchanges total at any corpus size.
    "x30_span_dedup" -> Q(
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |ix AS (SELECT doc_id, tk,
         |    unnest(range(0, (len(tk) + $SpanLen - 1) // $SpanLen)) AS idx
         |  FROM tk WHERE len(tk) > 0),
         |segs AS (SELECT doc_id, idx, array_to_string(
         |    tk[(idx * $SpanLen + 1):(idx * $SpanLen + $SpanLen)], ' ')
         |    AS seg FROM ix),
         |kept AS (SELECT doc_id, idx, seg, row_number() OVER (
         |    PARTITION BY seg ORDER BY doc_id, idx) AS rn FROM segs)
         |SELECT doc_id, string_agg(seg, ' ' ORDER BY idx) AS text_deduped,
         |  CAST(count(*) AS BIGINT) AS n_kept
         |FROM kept WHERE rn = 1 GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val nseg = floor((size($"tk") - 1) / lit(SpanLen)).cast("int")
      Tables.spread(s, dir, "documents")
        .select($"doc_id", T.wsTokens($"text").as("tk"))
        .filter(size($"tk") > 0)
        .select($"doc_id", posexplode(transform(sequence(lit(0), nseg),
          i => array_join(slice($"tk", i * SpanLen + 1, lit(SpanLen)), " ")))
          .as(Seq("idx", "seg")))
        // first occurrence per span, corpus-wide: min over the
        // lexicographic (doc_id, idx) struct = the oracle's
        // row_number()=1, but with map-side partial aggregation
        .groupBy($"seg")
        .agg(min(struct($"doc_id", $"idx")).as("f"))
        .select($"f.doc_id".as("doc_id"), $"f.idx".as("idx"), $"seg")
        .groupBy($"doc_id")
        .agg(
          array_join(transform(
            array_sort(collect_list(struct($"idx", $"seg"))),
            x => x.getField("seg")), " ").as("text_deduped"),
          count(lit(1)).as("n_kept"))
        .orderBy($"doc_id")
    },

    // ----- x31 benchmark decontamination with a bloom pre-filter: drop
    // every corpus doc whose 4-token prefix key appears in the
    // reference set (sources src0/src1 stand in for the benchmark
    // list). EXACT semantics (the oracle is a plain NOT EXISTS) via the
    // two-tier plan that survives a reference set too large to
    // broadcast as a join table: (1) build a ~16-bits/key bloom of the
    // reference keys with one distributed aggregate (functions.Bloom),
    // (2) a map-side codegen probe splits the corpus into DEFINITELY
    // clean (no join, no shuffle — the overwhelming majority at real fp
    // rates) and MAYBE contaminated, (3) only the maybes (true hits +
    // ~0.24% false positives) pay an exact anti-join on the key string.
    // The corpus is scanned twice (two cheap map passes) but shuffled
    // only for the maybe sliver — at 100 TB that trade is the entire
    // point. The bloom build is LAZY: a sized-at-finish aggregate
    // (functions.SizedBloomAgg) broadcast-joined as a 1-row relation,
    // so constructing this query fires zero Spark jobs (the x14
    // discipline) and the build executes like any broadcast exchange,
    // when the action runs.
    "x31_decontam_bloom" -> Q(
      s"""WITH tk AS (SELECT doc_id, source, array_to_string(
         |    (${TS.wsTokens("text")})[1:$PrefK], ' ') AS p
         |  FROM documents),
         |ref AS (SELECT DISTINCT p FROM tk
         |  WHERE source IN ($RefSourcesSql))
         |SELECT t.doc_id, t.source FROM tk t
         |WHERE t.source NOT IN ($RefSourcesSql)
         |  AND NOT EXISTS (SELECT 1 FROM ref r WHERE r.p = t.p)
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir, "documents").select($"doc_id", $"source",
        array_join(slice(T.wsTokens($"text"), 1, PrefK), " ").as("p"))
      val ref = docs.filter($"source".isin(RefSources: _*))
        .select($"p").distinct()
      // build side: ONE lazy aggregate, sized at finish from the
      // observed key count — no jobs fire until the query runs
      val bitsDf = ref.select(Bloom.sizedAgg(T.md5Long($"p")).as("bb"))
      // a null prefix key (empty/null text) hashes to null; coalesce
      // sends it down the clean branch — NOT EXISTS semantics (a null
      // probe never matches the reference set)
      val probe = docs.filter(!$"source".isin(RefSources: _*))
        .crossJoin(broadcast(bitsDf))
        .withColumn("maybe", coalesce(
          Bloom.mightContain($"bb", T.md5Long($"p")), lit(false)))
        .drop("bb")
      val clean = probe.filter(!$"maybe") // pure filtered scan, no join
      val confirmed = probe.filter($"maybe") // fp-sized sliver
        .join(ref.withColumnRenamed("p", "rp"), $"p" === $"rp", "left_anti")
      clean.unionByName(confirmed)
        .select($"doc_id", $"source").orderBy($"doc_id")
    },

    // ----- x36 LM-quality scoring (the CCNet / RedPajama perplexity
    // filter, with the KenLM stand-in being an add-one-smoothed bigram
    // model): train the LM on a high-quality reference slice (doc_id %
    // 10 == 0), score every other doc by the mean conditional log-prob
    // of its bigrams, and gate on a fixed threshold. Scale shape: the
    // LM is VOCABULARY-sized (bigram + unigram count tables), not
    // corpus-sized, so it rides a broadcast join; the corpus side is
    // one explode + one doc_id aggregation. ln() differs in the last
    // ulp across engines, so each term rounds at 6 decimals before the
    // mean and the mean rounds at 4 before the keep comparison (the
    // x14 round-before-rank discipline).
    "x36_lm_quality" -> Q(
      s"""WITH $sqlLmCtes
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(avg(lp), 4) AS lm_score,
         |  round(avg(lp), 4) >= -7.0 AS keep
         |FROM lsc GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        lmScored(s, dir)
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(avg($"lp"), 4).as("lm_score"))
          .withColumn("keep", $"lm_score" >= -7.0)
          .orderBy($"doc_id")
    },

    // ----- x72 Min-K% prob membership check (Shi et al.'s
    // memorization / contamination detector, with x36's bigram LM as
    // the reference model): per scored doc, average ONLY the k = 20%
    // least-likely bigram log-probs — a document whose WORST tokens
    // are still well-modeled is likely present in (or near) the
    // model's training slice. Selection is engine-deterministic: lp is
    // rounded at 6 before ranking and ties break on bigram position
    // (the x14 round-before-rank discipline); x36 and x72 share ONE
    // scored-bigram relation ([[lmScored]] / `lsc`), so the LM and
    // gate arithmetic cannot drift between the mean filter and the
    // tail filter. Scale shape: x36's exactly — broadcast
    // vocabulary-sized LM tables, corpus unshuffled until the per-doc
    // window + aggregation pair (both partitioned on doc_id, one
    // exchange total).
    "x72_mink_prob" -> Q(
      s"""WITH $sqlLmCtes,
         |kk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(greatest(1, ceil(count(*) * 0.2)) AS BIGINT) AS k
         |  FROM lsc GROUP BY 1),
         |rr AS (SELECT doc_id, lp, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY lp, p) AS rn FROM lsc),
         |mk AS (SELECT rr.doc_id, kk.n_bigrams, kk.k,
         |    round(avg(lp), 4) AS mink_score
         |  FROM rr JOIN kk ON rr.doc_id = kk.doc_id
         |  WHERE rr.rn <= kk.k GROUP BY 1, 2, 3)
         |SELECT doc_id, n_bigrams, k, mink_score,
         |  mink_score >= -7.0 AS suspect
         |FROM mk ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val sc = lmScored(s, dir)
      val kk = sc.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          greatest(lit(1L), ceil(count(lit(1)) * 0.2).cast("long")).as("k"))
      sc.withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"lp", $"p")))
        .join(kk, "doc_id")
        .filter($"rn" <= $"k")
        .groupBy($"doc_id", $"n_bigrams", $"k")
        .agg(round(avg($"lp"), 4).as("mink_score"))
        .withColumn("suspect", $"mink_score" >= -7.0)
        .orderBy($"doc_id")
    },

    // ----- x32 within-document repetition signals (the Gopher /
    // MassiveText repetition filters): per doc, the fraction of 2-gram
    // occurrences belonging to a repeated 2-gram (dup_2gram_frac) and
    // the share of the single most frequent 2-gram (top_2gram_frac).
    // Scale shape: ZERO shuffles — the counts come from one in-array
    // sort + one linear `aggregate` fold per document (max run length
    // in the sorted gram array == max gram count; run elements past
    // the first are dup occurrences and the run head joins them once a
    // run reaches 2), so a 100 TB corpus processes embarrassingly
    // parallel with no (doc, gram) explode shuffle.
    "x32_repetition" -> Q(
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)]))
         |    AS g2 FROM tk WHERE len(tk) >= 2),
         |c AS (SELECT doc_id, g2, count(*) AS c FROM g GROUP BY 1, 2),
         |a AS (SELECT doc_id, max(c) AS maxc, sum(c) AS tot,
         |    coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup
         |  FROM c GROUP BY 1)
         |SELECT doc_id, round(maxc * 1.0 / tot, 6) AS top_2gram_frac,
         |  round(dup * 1.0 / tot, 6) AS dup_2gram_frac,
         |  (dup * 1.0 / tot <= 0.6 AND maxc * 1.0 / tot <= 0.2) AS keep
         |FROM a ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val grams = T.bigrams($"tk")
      val acc0 = struct(lit("").as("prev"), lit(0).as("run"),
        lit(0).as("maxrun"), lit(0).as("dup"))
      Tables.spread(s, dir, "documents")
        .select($"doc_id", T.wsTokens($"text").as("tk"))
        .filter(size($"tk") >= 2)
        .select($"doc_id", array_sort(grams).as("g"))
        .select($"doc_id", size($"g").as("tot"),
          aggregate($"g", acc0, (acc, x) => {
            val ext = x === acc.getField("prev")
            val nrun = when(ext, acc.getField("run") + 1).otherwise(lit(1))
            struct(x.as("prev"), nrun.as("run"),
              greatest(acc.getField("maxrun"), nrun).as("maxrun"),
              (acc.getField("dup") +
                when(ext && acc.getField("run") === 1, 2)
                  .when(ext, 1).otherwise(0)).as("dup"))
          }).as("st"))
        .select($"doc_id",
          round($"st.maxrun".cast("double") / $"tot", 6)
            .as("top_2gram_frac"),
          round($"st.dup".cast("double") / $"tot", 6).as("dup_2gram_frac"),
          ($"st.dup".cast("double") / $"tot" <= 0.6 &&
            $"st.maxrun".cast("double") / $"tot" <= 0.2).as("keep"))
        .orderBy($"doc_id")
    },

    // ----- x33 incremental dedup against a historical index: the
    // daily-ingest shape. The already-ingested corpus (doc_id even
    // stands in for it) exists only as its persisted band-bucket table
    // — the artifact `bandRowsOf` emits and a production pipeline
    // stores keyed by (band, key) — and the NEW batch (doc_id odd)
    // computes signatures, probes the index by band-key equi-join,
    // and verifies candidates by signature agreement. Per new doc the
    // best historical match survives (rounded-sim rank, ties to the
    // smallest old doc). Scale shape: the historical corpus NEVER
    // rescans or reshuffles — the index join is on (b, k) where the
    // new side is a day's batch, not the corpus; the x7 self-join
    // quadratic surface never appears.
    "x33_incremental_dedup" -> Q({
      val sigCols = (0 until Sig)
        .map(i => s"${TS.minhash("arr", i)} AS h$i").mkString(",\n         |  ")
      val bandSel = (0 until Bands).map { b =>
        val ks = (0 until RowsPerBand)
          .map(r => s"h${b * RowsPerBand + r}").mkString(", ")
        s"SELECT doc_id, $b AS b, concat_ws('_', $ks) AS k FROM sig"
      }.mkString("\n         |  UNION ALL ")
      val estSum = (0 until Sig)
        .map(i => s"CASE WHEN x.h$i = y.h$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |sh AS (SELECT doc_id, ${TS.shingles("tk", K)} AS arr
         |  FROM tk WHERE len(tk) >= $K),
         |sig AS (SELECT doc_id,
         |  $sigCols
         |  FROM sh),
         |bands AS (
         |  $bandSel),
         |cand AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.k = b.k
         |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
         |  GROUP BY 1, 2),
         |scored AS (SELECT new_id, old_id,
         |    round(($estSum) / $Sig.0, 6) AS est_sim
         |  FROM cand JOIN sig x ON cand.new_id = x.doc_id
         |    JOIN sig y ON cand.old_id = y.doc_id
         |  WHERE ($estSum) / $Sig.0 >= 0.25)
         |SELECT new_id, old_id AS dup_of, est_sim FROM (
         |  SELECT new_id, old_id, est_sim, row_number() OVER (
         |    PARTITION BY new_id ORDER BY est_sim DESC, old_id) AS rn
         |  FROM scored) WHERE rn = 1
         |ORDER BY new_id""".stripMargin
    }) { (s, dir) =>
      val sigDf = signatureDf(s, dir, Sig).cache()
      val bandRows = bandRowsOf(sigDf, Sig, Bands)
      // the persisted index side: historical docs' band buckets
      val index = bandRows.filter($"doc_id" % 2 === 0)
        .select($"b".as("b2"), $"k".as("k2"), $"doc_id".as("old_id"))
      val cand = bandRows.filter($"doc_id" % 2 === 1)
        .join(index, $"b" === $"b2" && $"k" === $"k2")
        .select($"doc_id".as("new_id"), $"old_id").distinct()
      val sigX = sigDf.toDF("new_id" +: (0 until Sig).map(i => s"x$i"): _*)
      val sigY = sigDf.toDF("old_id" +: (0 until Sig).map(i => s"y$i"): _*)
      val est = (0 until Sig)
        .map(i => when(col(s"x$i") === col(s"y$i"), 1).otherwise(0))
        .reduce(_ + _).cast("double") / Sig
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"new_id").orderBy($"est_sim".desc, $"old_id")
      cand.join(sigX, "new_id").join(sigY, "old_id")
        .filter(est >= 0.25)
        // rank on the ROUNDED sim so both engines break ties identically
        .select($"new_id", $"old_id", round(est, 6).as("est_sim"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"new_id", $"old_id".as("dup_of"), $"est_sim")
        .orderBy($"new_id")
    },

    // ----- x88 Gopher character-coverage repetition gates (see
    // [[gopherCoverage]]): most-common-2-gram char share + duplicated-
    // n-gram char coverage (overlaps once), both exact integer ppm.
    // The oracle computes the same quantities relationally — group +
    // window rank for the top gram, positional coverage distinct for
    // the duplicated grams — pinning the Spark fold's tie-breaks.
    "x88_gopher_coverage" -> Q({
      val g2 = "list_transform(range(1, len(tk)), i -> " +
        "tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)])"
      val gnParts = (0 until RepDupN)
        .map(o => s"tk[CAST(i + $o AS INT)]").mkString(" || ' ' || ")
      s"""WITH t0 AS (SELECT doc_id, ${TS.wsTokens("lower(text)")} AS tk
         |  FROM documents),
         |tk AS (SELECT doc_id, tk,
         |    CAST(list_sum(list_transform(tk, t -> len(t))) AS BIGINT)
         |      AS chars
         |  FROM t0 WHERE len(tk) >= $RepDupN),
         |c2 AS (SELECT doc_id, chars, g, count(*) AS c
         |  FROM (SELECT doc_id, chars, unnest($g2) AS g FROM tk)
         |  GROUP BY 1, 2, 3),
         |t2 AS (SELECT doc_id,
         |    CAST(c * len(replace(g, ' ', '')) * 1000000 // chars
         |      AS BIGINT) AS top2_ppm
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY c DESC, g) AS rn FROM c2) WHERE rn = 1),
         |gn AS (SELECT doc_id, chars, tk,
         |    unnest(list_transform(range(1, len(tk) + 2 - $RepDupN),
         |      i -> {'p': i, 'g': $gnParts})) AS u
         |  FROM tk),
         |dn AS (SELECT doc_id, chars, tk, u.p AS p,
         |    count(*) OVER (PARTITION BY doc_id, u.g) AS c FROM gn),
         |cov AS (SELECT DISTINCT doc_id, chars, pos,
         |    len(tk[CAST(pos AS INT)]) AS l
         |  FROM (SELECT doc_id, chars, tk,
         |      unnest(list_transform(range(0, $RepDupN), o -> p + o))
         |        AS pos
         |    FROM dn WHERE c > 1)),
         |s3 AS (SELECT doc_id,
         |    CAST(sum(l) * 1000000 // any_value(chars) AS BIGINT)
         |      AS dupn_ppm
         |  FROM cov GROUP BY doc_id)
         |SELECT tk.doc_id, tk.chars, t2.top2_ppm,
         |  coalesce(s3.dupn_ppm, 0) AS dupn_ppm,
         |  (t2.top2_ppm < $RepTop2MaxPpm AND
         |    coalesce(s3.dupn_ppm, 0) < $RepDupNMaxPpm) AS keep
         |FROM tk JOIN t2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
         |ORDER BY tk.doc_id""".stripMargin
    }) { (s, dir) => gopherCoverage(s, dir) },

    // ----- x89 exact heavy hitters (see [[heavyHitters]]): Misra-Gries
    // bounded-state candidates -> exact recount -> n·k > total gate.
    // The oracle is the plain exact computation — equality PROVES the
    // sketch's superset guarantee held end to end.
    "x89_heavy_hitters" -> Q(
      s"""WITH t0 AS (SELECT ${TS.wsTokens("lower(text)")} AS tk
         |  FROM documents),
         |t AS (SELECT unnest(tk) AS w FROM t0),
         |tot AS (SELECT count(*) AS tot FROM t),
         |c AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1)
         |SELECT w, n FROM c, tot WHERE n * $HhK > tot
         |ORDER BY n DESC, w""".stripMargin) {
      (s, dir) => heavyHitters(s, dir)
    },

    // ----- x128 per-source boilerplate grams (see [[sourceBoilerplate]]):
    // CCNet-style template detection — the repeated unit a crawl
    // pipeline strips per DOMAIN before dedup — adapted to token
    // 3-grams because the corpus has no line structure. Doc-frequency
    // thresholds are exact integers (count + integer-ppm share), so
    // both engines gate identically.
    "x128_source_boilerplate" -> Q(
      s"""WITH tk AS (SELECT doc_id, source, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |g AS (SELECT doc_id, source, unnest(${TS.shingles("tk", BoilerN)})
         |    AS gram FROM tk WHERE len(tk) >= $BoilerN),
         |f AS (SELECT source, gram, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM g GROUP BY 1, 2),
         |n AS (SELECT source, CAST(count(*) AS BIGINT) AS src_docs
         |  FROM tk WHERE len(tk) >= $BoilerN GROUP BY 1)
         |SELECT source, gram, n_docs,
         |  CAST(n_docs * 1000000 // src_docs AS BIGINT) AS share_ppm
         |FROM f JOIN n USING (source)
         |WHERE n_docs >= $BoilerMinDocs
         |  AND n_docs * 1000000 // src_docs >= $BoilerMinPpm
         |ORDER BY source, gram""".stripMargin) {
      (s, dir) => sourceBoilerplate(s, dir)
    },

    // ----- x129 cross-document repeated-substring audit (see
    // [[substrDedupAudit]]): the ExactSubstr protocol (Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better") as a
    // relational plan — fixed-width sliding windows, corpus-wide
    // occurrence >= 2, per-doc duplicated-token coverage via a
    // fixed-length interval merge (lag window; ends are monotone when
    // starts are, so min(W, gap) IS the merge).
    "x129_substr_dedup" -> Q({
      val w = SubstrW
      val winHash = TS.md5Long(
        s"array_to_string(tk[CAST(i AS INT):CAST(i + ${w - 1} AS INT)], ' ')")
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |t AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, tk
         |  FROM tk WHERE len(tk) >= $w),
         |ix AS (SELECT doc_id, n_tokens, tk,
         |    unnest(range(1, len(tk) + 2 - $w)) AS i FROM t),
         |win AS (SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS start,
         |    $winHash AS h FROM ix),
         |dup AS (SELECT h FROM win GROUP BY h HAVING count(*) >= 2),
         |m AS (SELECT doc_id, n_tokens, start, start - lag(start) OVER (
         |    PARTITION BY doc_id ORDER BY start) AS gap
         |  FROM win JOIN dup USING (h)),
         |c AS (SELECT doc_id, any_value(n_tokens) AS n_tokens,
         |    sum(CASE WHEN gap IS NULL THEN $w
         |      ELSE least($w, gap) END) AS dup_tokens,
         |    sum(CASE WHEN gap IS NULL OR gap > $w THEN 1 ELSE 0 END)
         |      AS dup_spans
         |  FROM m GROUP BY doc_id)
         |SELECT doc_id, n_tokens, CAST(dup_tokens AS BIGINT) AS dup_tokens,
         |  CAST(dup_spans AS BIGINT) AS dup_spans,
         |  CAST(dup_tokens * 1000000 // n_tokens AS BIGINT) AS dup_ppm
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (s, dir) => substrDedupAudit(s, dir) },

    // ----- x130 fuzzy decontamination (see [[fuzzyDecontam]]): the
    // MinHash-LSH variant of the benchmark scrub (Dolma's fuzzy
    // dedupe applied cross-table, where x31/x105 are the exact-key
    // protocols) — corpus×benchmark candidates via the x7 band
    // machinery, exact shingle-Jaccard verify on the candidate sliver.
    "x130_fuzzy_decontam" -> Q({
      val sigCols = (0 until Sig)
        .map(i => s"${TS.minhash("arr", i)} AS h$i").mkString(",\n         |  ")
      val bandSel = (0 until Bands).map { b =>
        val ks = (0 until RowsPerBand)
          .map(r => s"h${b * RowsPerBand + r}").mkString(", ")
        s"SELECT doc_id, source, $b AS b, concat_ws('_', $ks) AS k FROM sig"
      }.mkString("\n         |  UNION ALL ")
      s"""WITH tk AS (SELECT doc_id, source, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |sh AS (SELECT doc_id, source, ${TS.shingles("tk", K)} AS arr
         |  FROM tk WHERE len(tk) >= $K),
         |sig AS (SELECT doc_id, source,
         |  $sigCols
         |  FROM sh),
         |bands AS (
         |  $bandSel),
         |cand AS (SELECT c.doc_id AS doc_id, r.doc_id AS bench_id
         |  FROM bands c JOIN bands r ON c.b = r.b AND c.k = r.k
         |  WHERE c.source NOT IN ($RefSourcesSql)
         |    AND r.source IN ($RefSourcesSql)
         |  GROUP BY 1, 2),
         |v AS (SELECT cand.doc_id, bench_id,
         |    CAST(len(list_intersect(x.arr, y.arr)) AS BIGINT) AS inter,
         |    CAST(len(x.arr) + len(y.arr) AS BIGINT) AS ssum
         |  FROM cand JOIN sh x ON cand.doc_id = x.doc_id
         |    JOIN sh y ON cand.bench_id = y.doc_id)
         |SELECT doc_id, bench_id,
         |  CAST(inter * 1000000 // (ssum - inter) AS BIGINT) AS jaccard_ppm
         |FROM v WHERE inter * 1000000 // (ssum - inter) >= $FuzzyJaccMinPpm
         |ORDER BY doc_id, bench_id""".stripMargin
    }) { (s, dir) => fuzzyDecontam(s, dir) },

    // ----- x131 repeated-substring TRIM (see [[substrTrim]]): the
    // apply side of the x129 audit — Lee et al.'s actual rewrite,
    // keeping each duplicated window's FIRST corpus occurrence
    // (min (doc_id, start), the x30 first-wins convention) and
    // dropping every token covered only by later occurrences. A doc
    // that is an exact copy of an earlier one trims to empty text.
    "x131_substr_trim" -> Q({
      val w = SubstrW
      val winHash = TS.md5Long(
        s"array_to_string(tk[CAST(i AS INT):CAST(i + ${w - 1} AS INT)], ' ')")
      s"""WITH tk0 AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |t AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, tk
         |  FROM tk0 WHERE len(tk) >= $w),
         |ix AS (SELECT doc_id, tk,
         |    unnest(range(1, len(tk) + 2 - $w)) AS i FROM t),
         |win AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
         |    $winHash AS h FROM ix),
         |dup AS (SELECT h FROM win GROUP BY h HAVING count(*) >= 2),
         |occ AS (SELECT doc_id, start, row_number() OVER (
         |    PARTITION BY h ORDER BY doc_id, start) AS rn
         |  FROM win JOIN dup USING (h)),
         |rmp AS (SELECT DISTINCT doc_id, pos
         |  FROM (SELECT doc_id, unnest(list_transform(range(0, $w),
         |      o -> start + o)) AS pos FROM occ WHERE rn > 1)),
         |rm AS (SELECT doc_id, list(pos) AS rm FROM rmp GROUP BY doc_id),
         |j AS (SELECT t.doc_id, t.n_tokens, t.tk,
         |    coalesce(rm.rm, []::BIGINT[]) AS rm
         |  FROM t LEFT JOIN rm USING (doc_id))
         |SELECT doc_id, n_tokens,
         |  CAST(len(rm) AS BIGINT) AS removed_tokens,
         |  coalesce(array_to_string(list_transform(list_filter(
         |    range(1, len(tk) + 1), zp_ -> NOT list_contains(rm, zp_)),
         |    zp_ -> tk[CAST(zp_ AS INT)]), ' '), '') AS text_trimmed
         |FROM j ORDER BY doc_id""".stripMargin
    }) { (s, dir) => substrTrim(s, dir) },

    // ----- x132 per-doc unigram entropy + type-token ratio (see
    // [[tokenEntropy]]): the information-density quality features the
    // repetition gates (x32/x88) don't capture — a doc can pass every
    // top-gram share test and still be low-entropy spam. Per-term
    // contributions (c/n)·ln(n/c) micro-integerized BEFORE the sum
    // (x119's ln discipline) so the rollup is order-independent and
    // bit-exact in both engines; TTR is plain integer ppm.
    "x132_token_entropy" -> Q(
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("lower(text)")} AS tk
         |  FROM documents),
         |d AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens
         |  FROM tk WHERE len(tk) >= 1),
         |t AS (SELECT doc_id, unnest(tk) AS term FROM tk),
         |tf AS (SELECT doc_id, term, count(*) AS c FROM t GROUP BY 1, 2),
         |e AS (SELECT tf.doc_id,
         |    CAST(count(*) AS BIGINT) AS n_types,
         |    CAST(sum(CAST(floor((c * 1.0 / n_tokens)
         |      * ln(n_tokens * 1.0 / c) * 1000000.0 + 0.5) AS BIGINT))
         |      AS BIGINT) AS entropy_micronats
         |  FROM tf JOIN d USING (doc_id) GROUP BY 1)
         |SELECT d.doc_id, n_tokens, n_types,
         |  CAST(n_types * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
         |  entropy_micronats
         |FROM d JOIN e ON d.doc_id = e.doc_id
         |ORDER BY d.doc_id""".stripMargin) {
      (s, dir) => tokenEntropy(s, dir)
    },

    // ----- x133 per-source Zipf slope (see [[zipfSlope]]): the
    // rank-frequency power-law fit as a corpus-health diagnostic —
    // natural text sits near slope −1; synthetic/spammy sources
    // deviate. ln(rank)/ln(count) micro-integerized per term (x119's
    // discipline), then the least-squares slope is EXACT integer
    // algebra: numerator sx·sy − n·sxy = −n²·cov ≥ 0 because counts
    // are non-increasing in rank, so the ppm division never sees a
    // negative operand (truncate-vs-floor division would diverge
    // between engines there); 128-bit sums per the x67 rule.
    "x133_zipf_source" -> Q(
      s"""WITH tk AS (SELECT doc_id, source,
         |    ${TS.wsTokens("lower(text)")} AS tk FROM documents),
         |t AS (SELECT source, unnest(tk) AS term FROM tk),
         |tf AS (SELECT source, term, count(*) AS c FROM t GROUP BY 1, 2),
         |r AS (SELECT source, c, row_number() OVER (PARTITION BY source
         |    ORDER BY c DESC, term) AS rank FROM tf),
         |m AS (SELECT source, c,
         |    CAST(floor(ln(rank * 1.0) * 1000000.0 + 0.5) AS BIGINT) AS xi,
         |    CAST(floor(ln(c * 1.0) * 1000000.0 + 0.5) AS BIGINT) AS yi
         |  FROM r),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
         |    CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(sum(xi) AS HUGEINT) AS sx, CAST(sum(yi) AS HUGEINT) AS sy,
         |    sum(CAST(xi AS HUGEINT) * yi) AS sxy,
         |    sum(CAST(xi AS HUGEINT) * xi) AS sxx
         |  FROM m GROUP BY 1)
         |SELECT source, n_terms, n_tokens,
         |  CAST(((sx * sy - n_terms * sxy) * 1000000)
         |    // (n_terms * sxx - sx * sx) AS BIGINT) AS zipf_neg_ppm
         |FROM a WHERE n_terms >= 2 ORDER BY source""".stripMargin) {
      (s, dir) => zipfSlope(s, dir)
    },

    // ----- x134 incremental repeated-substring audit (see
    // [[incrementalSubstr]]): the x129 protocol at the daily-ingest
    // shape (x33's convention — even doc_ids stand in for the already-
    // ingested corpus, odd for the new batch). A batch window is
    // duplicated if its hash exists in the HISTORICAL window-hash
    // index OR occurs >= 2 times within the batch itself — exactly
    // the windows x129 over the merged corpus would flag among batch
    // docs whose duplicates aren't exclusively in even-vs-even pairs.
    // History is touched only as its distinct-hash index artifact.
    "x134_incremental_substr" -> Q({
      val w = SubstrW
      val winHash = TS.md5Long(
        s"array_to_string(tk[CAST(i AS INT):CAST(i + ${w - 1} AS INT)], ' ')")
      s"""WITH tk AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
         |  FROM documents),
         |t AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, tk
         |  FROM tk WHERE len(tk) >= $w),
         |ix AS (SELECT doc_id, n_tokens, tk,
         |    unnest(range(1, len(tk) + 2 - $w)) AS i FROM t),
         |win AS (SELECT doc_id, n_tokens, CAST(i AS BIGINT) AS start,
         |    $winHash AS h FROM ix),
         |dup AS (SELECT DISTINCT h FROM win WHERE doc_id % 2 = 0
         |  UNION
         |  SELECT h FROM win WHERE doc_id % 2 = 1
         |  GROUP BY h HAVING count(*) >= 2),
         |m AS (SELECT doc_id, n_tokens, start, start - lag(start) OVER (
         |    PARTITION BY doc_id ORDER BY start) AS gap
         |  FROM win JOIN dup USING (h) WHERE doc_id % 2 = 1),
         |c AS (SELECT doc_id, any_value(n_tokens) AS n_tokens,
         |    sum(CASE WHEN gap IS NULL THEN $w
         |      ELSE least($w, gap) END) AS dup_tokens,
         |    sum(CASE WHEN gap IS NULL OR gap > $w THEN 1 ELSE 0 END)
         |      AS dup_spans
         |  FROM m GROUP BY doc_id)
         |SELECT doc_id, n_tokens, CAST(dup_tokens AS BIGINT) AS dup_tokens,
         |  CAST(dup_spans AS BIGINT) AS dup_spans,
         |  CAST(dup_tokens * 1000000 // n_tokens AS BIGINT) AS dup_ppm
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (s, dir) => incrementalSubstr(s, dir) })

  /** x88 body: Gopher/MassiveText CHARACTER-COVERAGE repetition gates
    * (Rae et al. 2021 §A1.1) — the other half of the repetition filter
    * set beside x32's occurrence fractions: (a) the character share of
    * the single most common 2-gram (count × its chars / doc chars) and
    * (b) the fraction of characters covered by ANY duplicated n-gram,
    * overlapping occurrences counted ONCE — a positional-coverage
    * quantity x32's occurrence counts cannot express.
    *
    * Scale shape: x32's discipline — ZERO shuffles, one projection
    * over the corpus scan. Per doc: positional grams; the top-2-gram
    * (count, lex-smallest, chars) from one sorted-array fold; the
    * duplicated-n-gram SET from a second sorted fold (runs ≥ 2 emit
    * once); covered positions = distinct union of each duplicated
    * occurrence's [i, i+n-1] via array ops; covered chars = one fold
    * over that set. Everything stays inside whole-stage codegen; a
    * 100 TB corpus processes embarrassingly parallel. The oracle
    * replays the same quantities relationally (group/window/coverage
    * distinct) — same values, different algebra, so the fold's
    * tie-breaks (strictly-greater run keeps the lex-smallest max
    * gram) are pinned by the hash compare.
    *
    * Exposed as a reusable TRANSFORM: given a frame with a `tk`
    * token-array column, adds `chars`, `top2_ppm`, `dupn_ppm`, and the
    * boolean `rep_keep` — all stateless per-row folds, used by
    * [[gopherCoverage]]. Docs shorter than n tokens gate through with
    * zero coverage (nothing can repeat). */
  private[graft] def withCoverage(df: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame = {
    // positional (non-distinct) k-grams; guarded — sequence(1, m)
    // counts DOWN for m < 1 (the bigramPairs lesson)
    def grams(tk: org.apache.spark.sql.Column, k: Int)
        : org.apache.spark.sql.Column =
      when(size(tk) >= k,
        transform(sequence(lit(1), size(tk) - (k - 1)),
          i => concat_ws(" ",
            (0 until k).map(o => element_at(tk, i + o)): _*)))
        .otherwise(array().cast("array<string>"))
    val base = df
      .withColumn("chars", aggregate(
        transform($"tk", t => length(t).cast("long")),
        lit(0L), (a, x) => a + x))
      .withColumn("g2", grams($"tk", 2))
      .withColumn("gn", grams($"tk", n))
    // top 2-gram: sorted fold tracking (prev, run, maxrun, best gram);
    // strictly-greater update keeps the lex-smallest max-count gram,
    // matching the oracle's (count DESC, gram ASC) rank
    val acc2 = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("maxrun"), lit("").as("best"))
    val top = aggregate(array_sort($"g2"), acc2, (acc, x) => {
      val run = when(x === acc.getField("prev"),
        acc.getField("run") + 1L).otherwise(lit(1L))
      val better = run > acc.getField("maxrun")
      struct(x.as("prev"), run.as("run"),
        when(better, run).otherwise(acc.getField("maxrun")).as("maxrun"),
        when(better, x).otherwise(acc.getField("best")).as("best"))
    })
    // duplicated n-gram set: sorted fold, each run emits its gram once
    val accD = struct(lit("").as("prev"),
      array().cast("array<string>").as("d"))
    val dupSet = aggregate(array_sort($"gn"), accD, (acc, x) => {
      val d = acc.getField("d")
      // when() keeps element_at off the empty array (index-0 throws)
      val add = x === acc.getField("prev") &&
        when(size(d) === 0, lit(true))
          .otherwise(element_at(d, size(d)) =!= x)
      struct(x.as("prev"),
        when(add, concat(d, array(x))).otherwise(d).as("d"))
    }).getField("d")
    base
      .withColumn("st", top)
      .withColumn("ds", dupSet)
      // covered token positions: distinct union of [i, i+n-1] over
      // duplicated occurrences (overlaps counted once); the common
      // no-duplicates case short-circuits before touching gn again
      .withColumn("cov", when(size($"ds") === 0,
        array().cast("array<int>"))
        .otherwise(array_distinct(flatten(transform(
          filter(sequence(lit(1), size($"gn")),
            i => array_contains($"ds", element_at($"gn", i))),
          i => sequence(i, i + (n - 1)))))))
      .withColumn("dl", aggregate($"cov", lit(0L),
        (a, p) => a + length(element_at($"tk", p)).cast("long")))
      .withColumn("t2num", $"st".getField("maxrun") *
        length(translate($"st".getField("best"), " ", "")).cast("long") *
        lit(1000000L))
      .withColumn("dnnum", $"dl" * lit(1000000L))
      // greatest() guards empty-token docs in the streaming reuse
      // (registry path filters size >= n, where chars > 0 always)
      .withColumn("top2_ppm", expr("t2num div greatest(chars, 1)"))
      .withColumn("dupn_ppm", expr("dnnum div greatest(chars, 1)"))
      .withColumn("rep_keep", $"top2_ppm" < RepTop2MaxPpm &&
        $"dupn_ppm" < RepDupNMaxPpm)
      .drop("g2", "gn", "st", "ds", "cov", "dl", "t2num", "dnnum")
  }

  private[graft] def gopherCoverage(s: org.apache.spark.sql.SparkSession,
      dir: String, n: Int = RepDupN): org.apache.spark.sql.DataFrame =
    withCoverage(
      Tables.spread(s, dir, "documents")
        .select($"doc_id", T.wsTokens(lower($"text")).as("tk"))
        .filter(size($"tk") >= n), n)
      .select($"doc_id", $"chars", $"top2_ppm", $"dupn_ppm",
        $"rep_keep".as("keep"))
      .orderBy($"doc_id")

  /** x89 body: exact distributed heavy hitters over the token stream —
    * the classical two-pass shape for unbounded key cardinality.
    * Pass 1 runs the [[graft.functions.MisraGries]] bounded-state
    * summary (≤ HhK counters per partial, any merge order) alongside
    * the stream length; its survivors are a GUARANTEED superset of
    * every token with count > n/HhK. Pass 2 recounts ONLY the ≤ HhK
    * candidates exactly (broadcast semi-join on the candidate keys,
    * map-side combined to ≤ HhK rows per task) and keeps those above
    * the threshold — so the OUTPUT is exact and deterministic even
    * though the sketch is order-sensitive, which is what lets a plain
    * exact-count DuckDB oracle hash-match it (any dropped true heavy
    * hitter would surface as a row mismatch). Threshold compares as
    * n·HhK > total in exact integers — no division.
    *
    * Fully lazy: the candidate set rides the plan as a 1-row aggregate
    * exploded to ≤ HhK rows (the x31 lazy-bloom discipline — no
    * construction-time jobs, no driver collect). */
  private[graft] def heavyHitters(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int = HhK): org.apache.spark.sql.DataFrame = {
    val toks = Tables.spread(s, dir, "documents")
      .select(explode(T.wsTokens(lower($"text"))).as("w"))
    val agg1 = toks.agg(
      graft.functions.MisraGries.udaf(k)($"w").as("cand"),
      count(lit(1)).as("tot"))
    val cands = agg1.select(explode(map_keys($"cand")).as("w"), $"tot")
    toks.join(broadcast(cands), "w")
      .groupBy($"w", $"tot").agg(count(lit(1)).as("n"))
      .filter($"n" * k > $"tot")
      .select($"w", $"n")
      .orderBy($"n".desc, $"w")
  }

  /** Shared winnow oracle CTEs ending in `fpr(doc_id, fp)` — distinct
    * winnowed fingerprints per doc (x28's relation; x60 builds its
    * pair matcher on the same chain so the two can't drift). */
  private def sqlWinnowCtes: String = {
    val B = 33L; val M = TextExprsM
    val gram = s"(th[CAST(i AS INT)] * ${B * B * B} + " +
      s"th[CAST(i + 1 AS INT)] * ${B * B} + " +
      s"th[CAST(i + 2 AS INT)] * $B + th[CAST(i + 3 AS INT)]) % $M"
    s"""t AS (SELECT doc_id, ${TS.wsTokens("text")} AS tk
       |  FROM documents),
       |h AS (SELECT doc_id, list_transform(tk, s ->
       |    ${TS.md5Long("s")} % $M) AS th
       |  FROM t WHERE len(tk) >= 8),
       |g AS (SELECT doc_id, list_transform(range(1, len(th) - 2),
       |    i -> $gram) AS grams FROM h),
       |f AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(grams) - 3),
       |    i -> list_min(grams[CAST(i AS INT) : CAST(i + 4 AS INT)])))
       |    AS fps FROM g),
       |fpr AS (SELECT doc_id, unnest(fps) AS fp FROM f)""".stripMargin
  }

  /** Per-doc DISTINCT winnowed fingerprints (x28's relation, shared
    * with x60's cross-doc matcher so the two can't drift): 4-gram
    * rolling hashes over md5 token hashes, window-of-5 minima,
    * distinct per doc. Two window passes on one doc_id exchange. */
  private[graft] def winnowFps(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val B = 33L; val M = TextExprsM
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    Tables.spread(s, dir, "documents")
      .select($"doc_id", T.wsTokens($"text").as("tk"))
      .filter(size($"tk") >= 8)
      .select($"doc_id", posexplode($"tk").as(Seq("pos", "tok")))
      .withColumn("th", T.md5Long($"tok") % M)
      .withColumn("g",
        when(lead($"th", 3).over(byDoc).isNotNull,
          ($"th" * (B * B * B) + lead($"th", 1).over(byDoc) * (B * B) +
            lead($"th", 2).over(byDoc) * B + lead($"th", 3).over(byDoc))
            % M))
      .withColumn("fp",
        when(lead($"g", 4).over(byDoc).isNotNull,
          min($"g").over(byDoc.rowsBetween(0, 4))))
      .filter($"fp".isNotNull)
      .groupBy($"doc_id", $"fp").agg(count(lit(1)))
      .select($"doc_id", $"fp")
  }

  /** x128 body: per-source boilerplate/template grams — CCNet strips
    * lines repeated across a domain's pages before dedup; with no line
    * structure in this corpus the unit is a token 3-gram, and the gate
    * is doc-frequency within the source (>= [[BoilerMinDocs]] docs AND
    * >= [[BoilerMinPpm]] of the source's docs, both exact integers).
    *
    * Scale shape (100 TB): [[TextExprs.shingles]] is distinct-per-doc,
    * so the (source, gram) count is a plain count(*) — ONE map-side-
    * combinable shuffle over the exploded grams. The per-source doc
    * count is a |sources|-row aggregate broadcast back; no second pass
    * over the corpus, no window, no skew risk beyond the gram key
    * itself (AQE-splittable). */
  private[graft] def sourceBoilerplate(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.spread(s, dir, "documents")
      .select($"doc_id", $"source", T.wsTokens($"text").as("tk"))
      .filter(size($"tk") >= BoilerN)
    val perSrc = docs.groupBy($"source")
      .agg(count(lit(1)).as("src_docs"))
    docs
      .select($"doc_id", $"source",
        explode(T.shingles($"tk", BoilerN)).as("gram"))
      .groupBy($"source", $"gram")
      .agg(count(lit(1)).as("n_docs"))
      .join(broadcast(perSrc), "source")
      .filter($"n_docs" >= BoilerMinDocs &&
        $"n_docs" * 1000000L >= $"src_docs" * BoilerMinPpm)
      .select($"source", $"gram", $"n_docs",
        expr("n_docs * 1000000 div src_docs").as("share_ppm"))
      .orderBy($"source", $"gram")
  }

  /** x129 body: the ExactSubstr dedup audit (Lee et al. 2022) — every
    * [[SubstrW]]-token sliding window hashed to the canonical 48-bit
    * content hash; a window content occurring >= 2 times corpus-wide
    * (cross-doc or within-doc, the paper's criterion) marks its span
    * duplicated; per doc the covered token count is the union of the
    * fixed-length intervals. Because every interval has the SAME width
    * W, interval ends are monotone in starts, and the union reduces to
    * one lag: contribution = min(W, start − prev_start), a new span
    * starts when the gap exceeds W. Output is the per-doc audit a
    * trim pass would consume (n_tokens, dup_tokens, dup_spans,
    * dup_ppm).
    *
    * Scale shape (100 TB): windows shuffle ONCE on the 8-byte hash
    * (not the 50-byte window text) for the map-side-combinable
    * occurrence count; the >= 2 sliver joins back on the same key
    * (AQE picks broadcast when the dup set is small); the final
    * doc_id window sorts only each doc's OWN dup starts — bounded by
    * doc length, never corpus-wide. No all-pairs anywhere. */
  private[graft] def substrDedupAudit(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    substrDedupOf(Tables.spread(s, dir, "documents"), SubstrW)

  /** Frame-shaped x129 core over any (doc_id, text) frame — the
    * registry body at [[SubstrW]]; the property spec drives it at
    * arbitrary widths against a brute-force interval union. */
  private[graft] def substrDedupOf(docs: org.apache.spark.sql.DataFrame,
      w: Int): org.apache.spark.sql.DataFrame = {
    val win = substrWinOf(docs, w)
    val dup = win.groupBy($"h")
      .agg(count(lit(1)).as("c")).filter($"c" >= 2).select($"h")
    substrAuditOf(win.join(dup, "h"), w)
  }

  /** The (doc_id, n_tokens, start, h) sliding-window frame shared by
    * the whole-corpus audit (x129), the trim (x131), and the
    * incremental probe (x134) — ONE definition so the window hash can
    * never drift between the batch, incremental, and persisted
    * surfaces. */
  private[graft] def substrWinOf(docs: org.apache.spark.sql.DataFrame,
      w: Int): org.apache.spark.sql.DataFrame = docs
    .select($"doc_id", T.wsTokens($"text").as("tk"))
    .filter(size($"tk") >= w)
    .select($"doc_id", size($"tk").cast("long").as("n_tokens"),
      posexplode(transform(sequence(lit(1), size($"tk") - (w - 1)),
        i => T.md5Long(array_join(slice($"tk", i, lit(w)), " "))))
        .as(Seq("off", "h")))
    .select($"doc_id", $"n_tokens",
      ($"off" + 1).cast("long").as("start"), $"h")

  /** The fixed-width interval-merge audit over a frame of DUPLICATED
    * window rows (doc_id, n_tokens, start): min(W, gap) coverage +
    * span count per doc (see [[substrDedupAudit]] for the monotone-
    * ends argument). */
  private[graft] def substrAuditOf(marked: org.apache.spark.sql.DataFrame,
      w: Int): org.apache.spark.sql.DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"start")
    marked
      .withColumn("gap", $"start" - lag($"start", 1).over(byDoc))
      .select($"doc_id", $"n_tokens",
        when($"gap".isNull, lit(w.toLong))
          .otherwise(least(lit(w.toLong), $"gap")).as("contrib"),
        when($"gap".isNull || $"gap" > w, 1L).otherwise(0L).as("ns"))
      .groupBy($"doc_id")
      .agg(max($"n_tokens").as("n_tokens"),
        sum($"contrib").as("dup_tokens"),
        sum($"ns").as("dup_spans"))
      .select($"doc_id", $"n_tokens", $"dup_tokens", $"dup_spans",
        expr("dup_tokens * 1000000 div n_tokens").as("dup_ppm"))
      .orderBy($"doc_id")
  }

  /** x130 body: fuzzy benchmark decontamination — the MinHash-LSH
    * cross-table variant of the scrub (Dolma's fuzzy protocol; x31 and
    * x105 are the exact-key tiers). Candidates come from the SAME band
    * machinery as x7 ([[signatureOf]]/[[bandRowsOf]], so recall
    * replays exactly in the oracle); the verify is EXACT shingle
    * Jaccard in integer ppm on the candidate sliver only.
    *
    * Scale shape (100 TB): the benchmark side is eval suites — small
    * by nature — so its bands and shingle sets BROADCAST; the corpus
    * is never self-joined and never all-paired, it flows map-side
    * through signature → band probe → (sliver-only) verify. A
    * benchmark too large to broadcast degrades to a shuffle join on
    * the band key, nothing else changes. */
  private[graft] def fuzzyDecontam(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.spread(s, dir, "documents")
    val bench = docs.filter($"source".isin(RefSources: _*))
    val corp = docs.filter(!$"source".isin(RefSources: _*))
    def shOf(d: org.apache.spark.sql.DataFrame) = d
      .select($"doc_id", T.wsTokens($"text").as("tk"))
      .filter(size($"tk") >= K)
      .select($"doc_id", T.shingles($"tk", K).as("sh"))
    val cand = bandRowsOf(signatureOf(corp, Sig), Sig, Bands)
      .join(broadcast(bandRowsOf(signatureOf(bench, Sig), Sig, Bands)
        .withColumnRenamed("doc_id", "bench_id")), Seq("b", "k"))
      .select($"doc_id", $"bench_id").distinct()
    cand
      .join(shOf(corp), "doc_id")
      .join(broadcast(shOf(bench)
        .withColumnRenamed("doc_id", "bench_id")
        .withColumnRenamed("sh", "bsh")), "bench_id")
      .select($"doc_id", $"bench_id",
        size(array_intersect($"sh", $"bsh")).cast("long").as("inter"),
        (size($"sh") + size($"bsh")).cast("long").as("ssum"))
      .filter($"inter" * 1000000L >= ($"ssum" - $"inter") * FuzzyJaccMinPpm)
      .select($"doc_id", $"bench_id",
        expr("inter * 1000000 div (ssum - inter)").as("jaccard_ppm"))
      .orderBy($"doc_id", $"bench_id")
  }

  /** x131 body: the trim pass the x129 audit feeds (Lee et al.'s
    * rewrite) — every duplicated window keeps its FIRST corpus
    * occurrence, chosen as min (doc_id, start) via the x30 min-struct
    * idiom (map-side combinable, equal to the oracle's
    * row_number()=1); tokens covered only by later occurrences are
    * dropped and the doc re-assembled in order.
    *
    * Scale shape (100 TB): dup detection and first-pick are the x129
    * hash-keyed aggregates; removed POSITIONS exist only for the
    * non-first sliver (W× that sliver, not the corpus); they fold to
    * ONE array row per affected doc, so the rewrite is a doc-keyed
    * sliver join + a map-side array_except over each doc's own
    * positions — the corpus is never shuffled per token. A doc that
    * duplicates an earlier doc entirely trims to empty text (rows are
    * kept, text empties — the downstream filter decides). */
  private[graft] def substrTrim(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val w = SubstrW
    val tk = Tables.spread(s, dir, "documents")
      .select($"doc_id", T.wsTokens($"text").as("tk"))
      .filter(size($"tk") >= w)
    val win = tk.select($"doc_id",
      posexplode(transform(sequence(lit(1), size($"tk") - (w - 1)),
        i => T.md5Long(array_join(slice($"tk", i, lit(w)), " "))))
        .as(Seq("off", "h")))
      .select($"doc_id", ($"off" + 1).cast("long").as("start"), $"h")
    val occ = win.join(win.groupBy($"h")
      .agg(count(lit(1)).as("c")).filter($"c" >= 2).select($"h"), "h")
    val first = occ.groupBy($"h")
      .agg(min(struct($"doc_id", $"start")).as("f"))
      .select($"h", $"f.doc_id".as("fdoc"), $"f.start".as("fstart"))
    val rm = occ.join(first, "h")
      .filter(!($"doc_id" === $"fdoc" && $"start" === $"fstart"))
      .select($"doc_id",
        explode(sequence($"start", $"start" + (w - 1))).as("pos"))
      .groupBy($"doc_id").agg(collect_set($"pos").as("rm"))
    tk.join(rm, Seq("doc_id"), "left")
      .select($"doc_id", size($"tk").cast("long").as("n_tokens"),
        coalesce($"rm", array().cast("array<long>")).as("rm"), $"tk")
      .select($"doc_id", $"n_tokens",
        size($"rm").cast("long").as("removed_tokens"),
        array_join(transform(
          array_except(sequence(lit(1L), $"n_tokens"), $"rm"),
          p => element_at($"tk", p.cast("int"))), " ").as("text_trimmed"))
      .orderBy($"doc_id")
  }

  /** x132 body: per-doc unigram Shannon entropy (micro-nats) and
    * type-token ratio (ppm) — the information-density features a
    * quality filter stacks beside the x32/x88 repetition gates: a doc
    * can pass every top-gram share test and still be low-entropy spam
    * (tiny effective vocabulary). Each term's (c/n)·ln(n/c) is
    * micro-integerized BEFORE the per-doc sum (x119's ln discipline:
    * the double math runs on identical rationals in both engines, the
    * floor(·1e6 + 0.5) lands the same integer, and the SUM is then
    * order-independent exact).
    *
    * Scale shape (100 TB): one token explode into a map-side-combinable
    * (doc, term) count, then a doc-keyed rollup — two keyed shuffles,
    * both AQE-splittable, no window, no join wider than the doc-length
    * relation. */
  private[graft] def tokenEntropy(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val tk = Tables.spread(s, dir, "documents")
      .select($"doc_id", T.wsTokens(lower($"text")).as("tk"))
    val d = tk.filter(size($"tk") >= 1)
      .select($"doc_id", size($"tk").cast("long").as("n_tokens"))
    val tf = tk.select($"doc_id", explode($"tk").as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("c"))
    val e = tf.join(d, "doc_id")
      .select($"doc_id",
        floor(($"c" * lit(1.0) / $"n_tokens")
          * log($"n_tokens" * lit(1.0) / $"c") * lit(1000000.0) + lit(0.5))
          .cast("long").as("ci"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_types"), sum($"ci").as("entropy_micronats"))
    d.join(e, "doc_id")
      .select($"doc_id", $"n_tokens", $"n_types",
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        $"entropy_micronats")
      .orderBy($"doc_id")
  }

  /** x133 body: per-source Zipf rank-frequency slope — the power-law
    * fit data-quality teams use as a corpus-health check (natural text
    * sits near −1; template/synthetic/spam sources flatten or steepen
    * it). Terms rank per source by count (term tiebreak); ln(rank)
    * and ln(count) micro-integerize per term, and the least-squares
    * slope becomes exact integer algebra on the five per-source sums.
    * The emitted value is the NEGATED slope in ppm: the numerator
    * sx·sy − n·sxy = −n²·cov(x,y) is provably ≥ 0 (counts
    * non-increasing in rank ⇒ cov ≤ 0), so the integer division never
    * sees a negative operand — where Spark's `div` (truncate) and
    * DuckDB's `//` (floor) would disagree. Sums widen per the x67
    * 128-bit rule: Σxi·yi ≈ vocab·(ln·1e6)² passes 2^63 near a
    * 40k-term vocabulary.
    *
    * Scale shape (100 TB): one token explode into a map-side-
    * combinable (source, term) count; the rank window sorts each
    * source's OWN vocabulary (vocab ≪ corpus, skew AQE-handled); the
    * regression is a |sources|-row rollup. */
  /** x134 body: the in-query incremental shape (even = history, odd =
    * batch). History participates ONLY as its distinct window-hash
    * set — the artifact a production pipeline persists — so the
    * historical corpus is never re-audited, and a batch window is dup
    * iff it hits the index or repeats within the batch.
    *
    * Scale shape (100 TB): the index probe is an equi-join on the
    * 8-byte hash with the BATCH as the small side; batch self-dup is
    * the x129 map-side-combinable count over one day's windows; the
    * audit window sorts each batch doc's own dup starts. The
    * historical corpus neither rescans nor reshuffles — the
    * incremental-ingest contract every maintained index here obeys. */
  private[graft] def incrementalSubstr(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val w = SubstrW
    val win = substrWinOf(Tables.spread(s, dir, "documents"), w)
    val hist = win.filter($"doc_id" % 2 === 0).select($"h").distinct()
    val batch = win.filter($"doc_id" % 2 === 1)
    val batchDup = batch.groupBy($"h")
      .agg(count(lit(1)).as("c")).filter($"c" >= 2).select($"h")
    substrAuditOf(batch.join(hist.union(batchDup).distinct(), "h"), w)
  }

  private[graft] def zipfSlope(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val bySrc = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"c".desc, $"term")
    val tf = Tables.spread(s, dir, "documents")
      .select($"source", explode(T.wsTokens(lower($"text"))).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("c"))
    tf.withColumn("rank", row_number().over(bySrc).cast("long"))
      .select($"source", $"c",
        floor(log($"rank" * lit(1.0)) * lit(1000000.0) + lit(0.5))
          .cast("long").as("xi"),
        floor(log($"c" * lit(1.0)) * lit(1000000.0) + lit(0.5))
          .cast("long").as("yi"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_terms"), sum($"c").as("n_tokens"),
        sum($"xi").as("sx"), sum($"yi").as("sy"),
        sum(expr("CAST(xi AS DECIMAL(38,0)) * yi")).as("sxy"),
        sum(expr("CAST(xi AS DECIMAL(38,0)) * xi")).as("sxx"))
      .filter($"n_terms" >= 2)
      .select($"source", $"n_terms", $"n_tokens",
        expr("CAST(((CAST(sx AS DECIMAL(38,0)) * sy" +
          " - CAST(n_terms AS DECIMAL(38,0)) * sxy) * 1000000)" +
          " div (CAST(n_terms AS DECIMAL(38,0)) * sxx" +
          " - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)")
          .as("zipf_neg_ppm"))
      .orderBy($"source")
  }
}
