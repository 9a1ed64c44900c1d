package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.store.ParquetStore

/** Keyed store contracts (S6/S12/S13) on ParquetStore, the one store:
  * dynamic partition overwrite replaces delete+insert per key, other
  * keys' partitions survive, keyed reads list only their own partition,
  * a keyed write whose job fails keeps the key's old rows, and a keyed
  * commit that dies after its delete reads as a GET miss.
  */
class StoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // S12/S13 parity with the reference's storage interface (ref:
  // blackmagic/data/__init__.py:13-70): keyed overwrite replaces only
  // its key, explicit keyed delete drops only its key and is
  // idempotent on absent keys.
  test("keyed upsert/delete parity holds across all store impls") {
    val store = new ParquetStore(
      Files.createTempDirectory("graft-parity").toString)
    val v1 = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("cx", "cy", "v")
    store.write("par", v1, Seq("cx", "cy"))
    store.write("par", Seq((1L, 10L, "a2")).toDF("cx", "cy", "v"),
      Seq("cx", "cy"))
    def got = store.read("par", spark)
      .select($"cx".cast("long"), $"v").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a2"), (2L, "b")), "upsert")
    store.delete("par", Seq("cx" -> 1L, "cy" -> 10L))
    assert(got == Set((2L, "b")), "delete")
    store.delete("par", Seq("cx" -> 1L, "cy" -> 10L)) // re-delete
    store.delete("par", Seq("cx" -> 99L, "cy" -> 99L)) // absent key
    assert(got == Set((2L, "b")), "idempotent delete")
  }

  test("keyed delete honors the layout's key order, not the caller's " +
    "argument order") {
    val tmp = Files.createTempDirectory("graft-delorder").toString
    val store = new ParquetStore(tmp)
    val df = Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("cx", "cy", "v")
    store.write("seg", df, Seq("cx", "cy"))
    // reversed key order must still address cx=1/cy=10
    store.delete("seg", Seq("cy" -> 10L, "cx" -> 1L))
    val left = store.read("seg", spark)
      .select($"cx".cast("long")).as[Long].collect().toSet
    assert(left == Set(2L), left.toString)
  }

  test("reordered delete still resolves the layout after a prior " +
    "delete leaves an empty parent dir") {
    val tmp = Files.createTempDirectory("graft-delitter").toString
    val store = new ParquetStore(tmp)
    store.write("seg", Seq((1L, 10L, "a"), (2L, 30L, "b"))
      .toDF("cx", "cy", "v"), Seq("cx", "cy"))
    // removes cy=10 and leaves cx=1 as an empty parent (fs litter)
    store.delete("seg", Seq("cx" -> 1L, "cy" -> 10L))
    // order discovery must search past the empty chain, not fall back
    store.delete("seg", Seq("cy" -> 30L, "cx" -> 2L))
    // fully emptied: reading yields zero rows or no inferable schema
    val n = try store.read("seg", spark).count()
    catch { case _: Exception => 0L }
    assert(n == 0L, n.toString)
  }

  test("x33's band index persists through Store and a later batch " +
    "probes the persisted table without reshuffling the historical side") {
    import graft.queries.TextOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-bandix").toString
    // band table partitioned by band; signature table unpartitioned
    val bandStore = new ParquetStore(s"$tmp/bands")
    val sigStore = new ParquetStore(s"$tmp/sigs")
    TextOps.persistDedupIndex(spark, dir, bandStore, sigStore)
    // a "later session": the probe reads ONLY the persisted artifacts
    // for the historical side and must reproduce x33 exactly
    val got = TextOps.incrementalDedupPersisted(spark, dir,
      bandStore, sigStore)
    val expect = SparkEntry.queries("x33_incremental_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val gotRows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(gotRows.nonEmpty)
    assert(gotRows == expect, "persisted-index probe diverged from x33")
    // plan contract: the persisted historical tables join via
    // BROADCAST of the new batch — no hash exchange on the index's
    // (b, k) or the signature table's old_id anywhere in the plan
    val p = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!"hashpartitioning\\((b|k|old_id)#".r.unanchored.matches(p),
      s"historical side reshuffled:\n$p")
  }

  test("trained ANN books persist through Store and a later session's " +
    "search over them is bit-identical to fresh training") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-annbooks").toString
    val store = new ParquetStore(s"$tmp/books")
    VectorOps.persistAnnBooks(spark, dir, store)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "adc", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq
    val fromStore = rows(VectorOps.annIvfPqFromStore(spark, dir, store))
    val fresh = rows(VectorOps.annIvfPqTrained(spark, dir))
    assert(fromStore.nonEmpty)
    assert(fromStore == fresh,
      "search over persisted books diverged from fresh training")
  }

  test("ANN books are VERSIONED: a retrain preserves prior versions " +
    "for as-of search, refuses under encoded dependents, and " +
    "requires monotonic versions") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-annbooks-ver").toString
    val store = new ParquetStore(s"$tmp/books")
    VectorOps.persistAnnBooks(spark, dir, store)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "adc", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq
    val r0 = rows(VectorOps.annIvfPqFromStore(spark, dir, store))
    assert(r0.nonEmpty)
    // RETRAIN at different geometry: a new version lands, the old one
    // stays readable — yesterday's search replays exactly via as-of
    VectorOps.persistAnnBooks(spark, dir, store,
      cells = 2 * graft.queries.VectorOps.DefaultCells, trainedAt = 1L)
    assert(rows(VectorOps.annIvfPqFromStore(spark, dir, store,
      asOfTrainedAt = 0L)) == r0,
      "as-of book search diverged from the pre-retrain answers")
    // latest serves the retrained geometry (coarse book row count
    // doubles with the cell count)
    assert(store.read("ann_coarse_book", spark)
        .filter($"trained_at".cast("long") === 1L).count() ==
      2L * store.read("ann_coarse_book", spark)
        .filter($"trained_at".cast("long") === 0L).count())
    // replaying the CURRENT version overwrites only itself
    VectorOps.persistAnnBooks(spark, dir, store,
      cells = 2 * graft.queries.VectorOps.DefaultCells, trainedAt = 1L)
    assert(store.read("ann_coarse_book", spark)
      .select($"trained_at".cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet == Set(0L, 1L))
    // versions must advance — a lower version refuses
    val eMono = intercept[IllegalArgumentException] {
      VectorOps.persistAnnBooks(spark, dir, store, trainedAt = 0L)
    }
    assert(eMono.getMessage.contains("must advance"), eMono.getMessage)
    // and below every version, as-of refuses loudly
    val eNo = intercept[IllegalArgumentException] {
      VectorOps.annIvfPqFromStore(spark, dir, store,
        asOfTrainedAt = -1L)
    }
    assert(eNo.getMessage.contains("no ANN book version"),
      eNo.getMessage)
    // DESYNC GUARD: once a corpus is encoded against the current
    // book, a retrain refuses — its codes carry no raw vectors to
    // re-encode, so a new quantizer would silently corrupt search
    VectorOps.appendAnnCorpus(spark,
      VectorOps.normalizedEmbeddings(spark, dir).limit(32), 0L, store)
    val eDep = intercept[IllegalArgumentException] {
      VectorOps.persistAnnBooks(spark, dir, store, trainedAt = 2L)
    }
    assert(eDep.getMessage.contains("desync"), eDep.getMessage)
    // a SAME-version persist that would CHANGE the geometry under
    // encoded dependents is a retrain wearing replay's version stamp
    // (persistAnnBooksScaled's exact hazard) — refused; a true
    // content-identical replay stays sanctioned
    val eGeo = intercept[IllegalArgumentException] {
      VectorOps.persistAnnBooks(spark, dir, store, trainedAt = 1L)
    }
    assert(eGeo.getMessage.contains("desync") &&
      eGeo.getMessage.contains("geometry"), eGeo.getMessage)
    VectorOps.persistAnnBooks(spark, dir, store,
      cells = 2 * graft.queries.VectorOps.DefaultCells, trainedAt = 1L)
  }

  test("incremental ANN corpus: batches encoded against persisted books " +
    "search bit-identical to the one-shot x43, history never re-encoded") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-anncorpus").toString
    val store = new ParquetStore(s"$tmp/ann")
    VectorOps.persistAnnBooks(spark, dir, store)
    val n = VectorOps.normalizedEmbeddings(spark, dir)
    // day-0 history + day-1 ingest = the full corpus, encoded in two
    // independent passes against the SAME persisted books
    VectorOps.appendAnnCorpus(spark, n.filter($"vec_id" % 2 === 0), 0L, store)
    VectorOps.appendAnnCorpus(spark, n.filter($"vec_id" % 2 === 1), 1L, store)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "adc", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq
    val stored = VectorOps.annIvfPqSearchStored(spark, dir, store)
    val got = rows(stored)
    val oneShot = rows(VectorOps.annIvfPqTrained(spark, dir))
    assert(got.nonEmpty)
    assert(got == oneShot, "stored-corpus search diverged from one-shot x43")
    // the search never re-encodes history: codes come straight off
    // parquet, so the result plan carries zero DotMatrix work
    val p = stored.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("dot_matrix"), s"corpus re-encoded:\n$p")
    // idempotent batch re-ingest (S12 delete-before-write): rewriting
    // batch 1 leaves batch 0's files untouched and the result unchanged
    def batch0Files = Files.walk(
        java.nio.file.Paths.get(s"$tmp/ann/ann_corpus/batch=0"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq
      .map(f => f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)))
    val before = batch0Files
    VectorOps.appendAnnCorpus(spark, n.filter($"vec_id" % 2 === 1), 1L, store)
    assert(batch0Files == before, "batch-1 re-ingest rewrote batch 0")
    assert(rows(VectorOps.annIvfPqSearchStored(spark, dir, store)) == oneShot)
  }

  test("incremental k-NN graph: two appended batches reproduce the " +
    "one-shot graph bit for bit, replay is idempotent, and untouched " +
    "cells' graph partitions never rewrite") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-knngraph").toString
    val store = new ParquetStore(s"$tmp/knn")
    VectorOps.persistAnnBooks(spark, dir, store)
    val n = VectorOps.normalizedEmbeddings(spark, dir).cache()
    VectorOps.appendKnnGraph(spark, n.filter($"vec_id" % 2 === 0), 0L, store)
    VectorOps.appendKnnGraph(spark, n.filter($"vec_id" % 2 === 1), 1L, store)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSeq
    val inc = rows(VectorOps.knnGraphStored(spark, store))
    assert(inc.nonEmpty)
    // one-shot twin over the SAME persisted quantizer
    val (coarse, _) = VectorOps.loadAnnBooks(spark, store)
    val one = rows(VectorOps.knnEdges(
        VectorOps.assignCells(n, coarse).select($"vec_id", $"v", $"cell"))
      .select($"src", $"dst", $"cos", $"rn").orderBy($"src", $"rn"))
    assert(inc == one, "incremental graph diverged from one-shot")
    // graph partitions for cells the replayed batch touches rewrite;
    // replaying batch 1 must leave the RESULT unchanged
    VectorOps.appendKnnGraph(spark, n.filter($"vec_id" % 2 === 1), 1L, store)
    assert(rows(VectorOps.knnGraphStored(spark, store)) == inc)
    // incremental economy: a batch confined to a few cells leaves the
    // other cells' graph files untouched (mtimes unchanged)
    val probe = n.filter($"vec_id" < 3)
      .select(($"vec_id" + 100000L).as("vec_id"), $"v")
    val touched = rows0(VectorOps.assignCells(probe, coarse)
      .select($"cell")).toSet
    def cellFiles(c: Long) = Files.walk(
        java.nio.file.Paths.get(s"$tmp/knn/knn_graph/cell=$c"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq
      .map(f => f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)))
    val allCells = rows0(store.read("knn_graph", spark)
      .select($"cell".cast("long"))).toSet
    val untouched = (allCells -- touched).toSeq.sorted
    assert(untouched.nonEmpty, "probe touched every cell")
    val before = untouched.map(cellFiles)
    VectorOps.appendKnnGraph(spark, probe, 2L, store)
    assert(untouched.map(cellFiles) == before,
      "an untouched cell's graph partition was rewritten")
    // and the touched cells now know the probe vectors
    val after = rows(VectorOps.knnGraphStored(spark, store))
    assert(after.exists(_._1 >= 100000L), "probe vectors got no edges")
    n.unpersist()
  }

  private def rows0(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.distinct().collect().map(_.getLong(0)).toSeq

  test("ANN tombstone deletes: searches exclude deleted vectors with " +
    "no corpus rewrite, survivors keep their order, replay idempotent") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-tomb").toString
    val store = new ParquetStore(s"$tmp/ann")
    VectorOps.persistAnnBooks(spark, dir, store)
    VectorOps.appendAnnCorpus(spark,
      VectorOps.normalizedEmbeddings(spark, dir), 0L, store)
    def rows() = VectorOps.annIvfPqSearchStored(spark, dir, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .toSeq
    val before = rows()
    // delete the rank-1 neighbors of queries 0 and 1
    val dead = before.filter(t => t._3 == 1L && t._1 <= 1L).map(_._2)
    assert(dead.nonEmpty)
    def corpusFiles = Files.walk(
        java.nio.file.Paths.get(s"$tmp/ann/ann_corpus"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted.toSeq
      .map(f => f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)))
    val filesBefore = corpusFiles
    VectorOps.tombstoneAnnVectors(spark, dead, store)
    val after = rows()
    // deleted ids are gone; every query still fills k; the surviving
    // earlier entries keep their relative order at the front
    assert(after.forall(t => !dead.contains(t._2)), "tombstoned id returned")
    (0L to 1L).foreach { q =>
      val a = after.filter(_._1 == q).sortBy(_._3).map(_._2)
      assert(a.length == 3, s"query $q no longer fills k")
      val survivors = before.filter(t => t._1 == q && !dead.contains(t._2))
        .sortBy(_._3).map(_._2)
      assert(a.take(survivors.length) == survivors,
        s"query $q: survivors reordered")
    }
    // the delete wrote a tombstone row, not the corpus
    assert(corpusFiles == filesBefore, "delete rewrote corpus files")
    // re-deleting the same ids is a per-id overwrite: nothing changes
    VectorOps.tombstoneAnnVectors(spark, dead, store)
    assert(rows() == after)
    // and later tombstones do not resurrect earlier ones
    val dead2 = after.filter(t => t._3 == 1L && t._1 == 2L).map(_._2)
    VectorOps.tombstoneAnnVectors(spark, dead2, store)
    val fin = rows()
    assert(fin.forall(t => !(dead ++ dead2).contains(t._2)))
  }

  test("ANN corpus compaction folds N ingest batches into one " +
    "partition: search bit-identical, small-file count collapses, " +
    "staging cleaned up, re-run a no-op") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-anncompact").toString
    val store = new ParquetStore(s"$tmp/ann")
    VectorOps.persistAnnBooks(spark, dir, store)
    val n = VectorOps.normalizedEmbeddings(spark, dir)
    // a week of daily ingests (7 batch partitions over the corpus)
    (0 until 7).foreach(b => VectorOps.appendAnnCorpus(spark,
      n.filter($"vec_id" % 7 === b), b.toLong, store))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid", "adc", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSeq
    def parquetFiles = Files.walk(
        java.nio.file.Paths.get(s"$tmp/ann/ann_corpus"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet"))
    val before = rows(VectorOps.annIvfPqSearchStored(spark, dir, store))
    val filesBefore = parquetFiles.length
    VectorOps.compactAnnCorpus(spark, store)
    val batches = store.read("ann_corpus", spark)
      .select($"batch".cast("long")).distinct().collect()
      .map(_.getLong(0)).toSeq
    assert(batches == Seq(0L), batches.mkString(","))
    assert(rows(VectorOps.annIvfPqSearchStored(spark, dir, store))
      == before, "compaction changed search results")
    val filesAfter = parquetFiles.length
    assert(filesAfter < filesBefore,
      s"compaction did not reduce files: $filesBefore -> $filesAfter")
    // the staging entity is gone
    assert(!Files.exists(
      java.nio.file.Paths.get(s"$tmp/ann/ann_corpus_stage")))
    // already-compact corpora are left untouched (early return)
    val stamp = parquetFiles.sorted.toSeq.map(f =>
      f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)))
    VectorOps.compactAnnCorpus(spark, store)
    val stamp2 = parquetFiles.sorted.toSeq.map(f =>
      f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)))
    assert(stamp2 == stamp, "no-op compaction rewrote files")
  }

  test("k-NN cell rebalance splits only hot cells, grows the book, " +
    "preserves every vector, and never touches cold cells' files") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val root = Files.createTempDirectory("graft-rebalance").toString
    val store = new ParquetStore(root)
    VectorOps.persistAnnBooks(spark, dir, store)
    val batch = VectorOps.normalizedEmbeddings(spark, dir)
    VectorOps.appendKnnGraph(spark, batch, 0L, store)
    val before = store.read("knn_vectors", spark)
      .groupBy($"cell").count()
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val total = before.values.sum
    val ids = store.read("knn_vectors", spark)
      .select($"vec_id").as[Long].collect().toSet
    // cap chosen between the max and the mean so SOME cells are hot
    // and some are cold on this corpus
    val cap = (before.values.max + before.values.sum /
      before.size) / 2
    val hot = before.filter(_._2 > cap).keys.toSeq.sorted
    assert(hot.nonEmpty && hot.size < before.size,
      s"fixture skew assumption broke: $before cap=$cap")
    // cold cells' graph partition files must survive BYTE-untouched
    def graphFiles(cells: Seq[Long]) = cells.flatMap { c =>
      val d = java.nio.file.Paths.get(s"$root/knn_graph/cell=$c")
      if (java.nio.file.Files.exists(d))
        java.nio.file.Files.list(d).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq
      else Seq.empty
    }
    val cold = before.keys.toSeq.filterNot(hot.contains).sorted
    val stamp = graphFiles(cold).sorted.map(f =>
      f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)))

    val splits = VectorOps.rebalanceKnnCells(spark, store, cap.toInt)
    assert(splits == hot.size, s"split $splits of ${hot.size} hot cells")

    // every vector survives, exactly once
    val after = store.read("knn_vectors", spark)
      .groupBy($"cell").count()
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    assert(after.values.sum == total)
    assert(store.read("knn_vectors", spark)
      .select($"vec_id").as[Long].collect().toSet == ids)
    // each split cell genuinely divided: both halves smaller than the
    // parent (2-means with distinct members never leaves one side
    // empty on this corpus), cold cells byte-identical in count
    hot.zipWithIndex.foreach { case (c, i) =>
      val nc = before.size.toLong + i
      assert(after.getOrElse(c, 0L) < before(c), s"cell $c did not shrink")
      assert(after.getOrElse(c, 0L) + after.getOrElse(nc, 0L) == before(c),
        s"cell $c halves don't sum: $after")
    }
    cold.foreach(c => assert(after(c) == before(c), s"cold cell $c moved"))
    // the persisted book grew by one centroid per split
    assert(store.read("ann_coarse_book", spark).count() ==
      before.size + splits)
    // cold cells' graph files were never rewritten
    val stamp2 = graphFiles(cold).sorted.map(f =>
      f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)))
    assert(stamp2 == stamp, "rebalance rewrote a cold cell's graph")
    // the rebalanced graph stays internally consistent: edges of a
    // split cell are exactly the in-cell top-k over its new members
    val g = store.read("knn_graph", spark)
    val c0 = hot.head
    val mem = store.read("knn_vectors", spark)
      .filter($"cell" === c0)
      .select($"vec_id", $"v", $"cell".cast("long").as("cell"))
    val want = VectorOps.knnEdges(mem)
      .select($"src", $"dst", $"cos", $"rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val got = g.filter($"cell" === c0)
      .select($"src", $"dst", $"cos", $"rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(got == want && got.nonEmpty)
    // a later append works against the GROWN book (the literal/join
    // assignment switch takes any cell count)
    VectorOps.appendKnnGraph(spark, batch.filter($"vec_id" < 8)
      .withColumn("vec_id", $"vec_id" + 100000L), 1L, store)
    assert(store.read("knn_vectors", spark).count() == total + 8)

    // the to-cap loop drives EVERY cell under a hard cap (one pass
    // only halves hot cells; production callers want the invariant)
    val hardCap = math.max(2L, cap / 2).toInt
    VectorOps.rebalanceKnnCellsToCap(spark, store, hardCap)
    val worst = store.read("knn_vectors", spark)
      .groupBy($"cell").count()
      .agg(max($"count")).first().getLong(0)
    assert(worst <= hardCap, s"worst cell $worst > hard cap $hardCap")

    // guard: a store that ALSO holds the PQ-coded corpus refuses to
    // rebalance — its codes are cell-addressed against the shared
    // book and carry no raw vectors, so a grown book would silently
    // desync every stored search
    store.write("ann_corpus",
      Seq((0L, 0L, 1L)).toDF("batch", "cell", "vec_id"),
      Seq("batch", "cell"))
    val e = intercept[IllegalArgumentException] {
      VectorOps.rebalanceKnnCells(spark, store, 2)
    }
    assert(e.getMessage.contains("desync"), e.getMessage)
  }

  test("persisted sparse (BM25) index: two appended batches reproduce " +
    "the one-shot rank exactly, replay is idempotent, and a query " +
    "reads only its terms' bucket directories") {
    import graft.queries.TextOps
    val dir = "/root/testdata/sf0.01"
    val root = Files.createTempDirectory("graft-sparse").toString
    val store = new ParquetStore(root)
    val docs = graft.Tables.spread(spark, dir, "documents")
    TextOps.appendSparseIndex(spark,
      docs.filter($"doc_id" % 2 === 0), 0L, store)
    TextOps.appendSparseIndex(spark,
      docs.filter($"doc_id" % 2 === 1), 1L, store)
    // queries = the registry convention: docs 0..3's distinct terms
    val qs = TextOps.tokenized(docs.filter($"doc_id" < 4))
      .select($"doc_id", $"tk").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[String](1).distinct.toSeq).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "doc_id", "bm25", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val got = rows(TextOps.bm25SearchStored(spark, store, qs))
    assert(got.nonEmpty)
    // row-identical to the one-shot x47 rank over the same corpus —
    // same scoring expression; df and totals derive from the live
    // version registry (equal to the batch union when nothing was
    // ever updated or deleted)
    assert(got == rows(TextOps.bm25TopK(spark, dir)),
      "stored sparse search diverged from one-shot x47")
    // replaying a batch overwrites itself (delete-before-write)
    TextOps.appendSparseIndex(spark,
      docs.filter($"doc_id" % 2 === 1), 1L, store)
    assert(rows(TextOps.bm25SearchStored(spark, store, qs)) == got)
    // the bucketed layout makes a term lookup O(its bucket), not
    // O(index): the bucket equality reaches the scan as a PARTITION
    // filter (inputFiles reflects the pre-pruning listing, so the
    // plan — not the file list — is the witness)
    val b = spark.range(1)
      .select(pmod(xxhash64(lit("the")), lit(TextOps.SparseBuckets))
        .cast("long"))
      .head().getLong(0)
    val pruned = store.read("sparse_postings", spark)
      .filter($"bucket" === b)
    pruned.collect()
    val planLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(planLine.contains("bucket") && planLine.contains(s"= $b)"),
      planLine)
  }

  test("persisted sparse index answers PHRASE queries from stored " +
    "positions: update moves the match set, tombstones remove from " +
    "it, and compaction preserves it") {
    import graft.queries.TextOps
    val root = Files.createTempDirectory("graft-phrase").toString
    val store = new ParquetStore(root)
    val b0 = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "x alpha beta gamma y"),
      (2L, "alpha beta epsilon alpha beta gamma"),
      (3L, "no match here at all")).toDF("doc_id", "text")
    TextOps.appendSparseIndex(spark, b0, 0L, store)
    val ph = Seq(7L -> Seq("alpha", "beta", "gamma"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "doc_id", "n_occ", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val got = rows(TextOps.phraseSearchStored(spark, store, ph))
    // row-identical to the independent one-shot twin over the same
    // docs (positions never left the index; the twin retokenizes)
    assert(got == rows(TextOps.phraseSearchOver(spark, b0, ph, 3)))
    assert(got.map(t => (t._2, t._3)) == Seq((0L, 1L), (1L, 1L),
      (2L, 1L)), got.toString)
    // batch 1 re-ingests doc 1 WITHOUT the phrase: only the latest
    // version's positions may match
    TextOps.appendSparseIndex(spark,
      Seq((1L, "x alpha beta zeta y")).toDF("doc_id", "text"),
      1L, store)
    val latest = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "x alpha beta zeta y"),
      (2L, "alpha beta epsilon alpha beta gamma"),
      (3L, "no match here at all")).toDF("doc_id", "text")
    val afterUpd = rows(TextOps.phraseSearchStored(spark, store, ph))
    assert(afterUpd == rows(TextOps.phraseSearchOver(
      spark, latest, ph, 3)))
    assert(!afterUpd.exists(_._2 == 1L),
      "superseded version's positions still matching")
    // tombstoned docs never match
    TextOps.tombstoneSparseDocs(spark, Seq(2L), store)
    val afterDel = rows(TextOps.phraseSearchStored(spark, store, ph))
    assert(afterDel.map(_._2) == Seq(0L), afterDel.toString)
    // physical fold keeps the positions: search identical after
    TextOps.compactSparseIndex(spark, store)
    assert(rows(TextOps.phraseSearchStored(spark, store, ph))
      == afterDel, "compaction changed stored phrase results")
  }

  test("sparse-index as-of reads: a snapshot search reproduces the " +
    "exact index state a past batch saw, while tombstones stay " +
    "retroactive") {
    import graft.queries.TextOps
    val root = Files.createTempDirectory("graft-asof").toString
    val store = new ParquetStore(root)
    val b0 = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "x alpha beta gamma y"),
      (2L, "alpha beta epsilon alpha beta gamma"),
      (3L, "unrelated words only here")).toDF("doc_id", "text")
    TextOps.appendSparseIndex(spark, b0, 0L, store)
    // batch 1: doc 1 updated (phrase gone), doc 4 born (phrase added)
    TextOps.appendSparseIndex(spark, Seq(
      (1L, "x alpha beta zeta y"),
      (4L, "fresh alpha beta gamma doc")).toDF("doc_id", "text"),
      1L, store)
    val ph = Seq(7L -> Seq("alpha", "beta", "gamma"))
    def prows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "doc_id", "n_occ", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    // as-of batch 0 == one-shot over batch 0's docs: the update and
    // the new doc are both invisible to the snapshot
    assert(prows(TextOps.phraseSearchStored(spark, store, ph,
        asOfBatch = 0L))
      == prows(TextOps.phraseSearchOver(spark, b0, ph, 3)))
    // the live read sees the update AND the new doc
    assert(prows(TextOps.phraseSearchStored(spark, store, ph))
      .map(_._2) == Seq(0L, 2L, 4L))
    // the BM25 path takes the same cut: doc 4's postings and df must
    // not leak into the snapshot's scores
    val qs = Seq(9L -> Seq("alpha", "beta", "gamma", "delta"))
    def brows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "doc_id", "bm25", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    assert(brows(TextOps.bm25SearchStored(spark, store, qs,
        asOfBatch = 0L))
      == brows(TextOps.bm25SearchOver(spark, b0, qs)))
    // tombstones apply retroactively: a deleted doc never resurfaces
    // through a historical read
    TextOps.tombstoneSparseDocs(spark, Seq(2L), store)
    assert(!prows(TextOps.phraseSearchStored(spark, store, ph,
      asOfBatch = 0L)).exists(_._2 == 2L),
      "tombstoned doc resurfaced in an as-of read")
    // compaction ADVANCES the snapshot horizon: history below it is
    // physically gone, so an as-of below the horizon fails loudly
    // (never serves the compacted state under an old batch id), the
    // horizon itself still serves, and folding DOWNWARD is refused
    intercept[IllegalArgumentException] {
      TextOps.compactSparseIndex(spark, store, intoBatch = 0L)
    }
    val liveNow = prows(TextOps.phraseSearchStored(spark, store, ph))
    TextOps.compactSparseIndex(spark, store)
    val e = intercept[IllegalArgumentException] {
      TextOps.phraseSearchStored(spark, store, ph, asOfBatch = 0L)
    }
    assert(e.getMessage.contains("horizon"), e.getMessage)
    assert(prows(TextOps.phraseSearchStored(spark, store, ph,
      asOfBatch = 1L)) == liveNow,
      "the horizon snapshot diverged from the live state it labels")
  }

  test("cross-encoder model artifact: store round-trip, keyed load, " +
    "and stored rerank row-identical to the literal-weights body") {
    import graft.queries.TextOps
    val dir = "/root/testdata/sf0.01"
    val root = Files.createTempDirectory("graft-ce-model").toString
    val store = new ParquetStore(root)
    TextOps.persistCeModel(spark, store)
    // bytes round-trip exactly (the artifact IS the scorer contract)
    assert(graft.ml.CrossEncoder.weightsOf(
        TextOps.loadCeModel(spark, store))
      .sameElements(TextOps.CeWeights))
    // replay overwrites itself (delete-before-write)
    TextOps.persistCeModel(spark, store)
    assert(store.read("ce_model", spark).count() == 1)
    // a second model under its own key leaves the first untouched
    TextOps.persistCeModel(spark, store,
      weights = Array(1L, 2L, 3L, 4L), modelId = 1L)
    assert(graft.ml.CrossEncoder.weightsOf(
        TextOps.loadCeModel(spark, store, modelId = 1L))
      .sameElements(Array(1L, 2L, 3L, 4L)))
    assert(graft.ml.CrossEncoder.weightsOf(
        TextOps.loadCeModel(spark, store))
      .sameElements(TextOps.CeWeights))
    // serving path: rerank with the LOADED artifact == x110's
    // literal-weights registry body, row for row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(rows(TextOps.rerankCrossStored(spark, dir, store)) ==
      rows(graft.SparkEntry.queries("x110_rerank_cross")(spark, dir)),
      "stored-model rerank diverged from the registry body")
    // THE MODEL IS VERSIONED: a retrain (new trained_at under the
    // same model_id) serves by default, but the pre-retrain rerank
    // stays reproducible via as-of — and an as-of below every
    // version refuses loudly
    val pre = rows(TextOps.rerankCrossStored(spark, dir, store))
    TextOps.persistCeModel(spark, store,
      weights = Array(1L, -2L, 3L, 40L), trainedAt = 5L)
    assert(graft.ml.CrossEncoder.weightsOf(
        TextOps.loadCeModel(spark, store))
      .sameElements(Array(1L, -2L, 3L, 40L)),
      "latest load did not serve the retrained version")
    assert(rows(TextOps.rerankCrossStored(spark, dir, store,
      asOfTrainedAt = 0L)) == pre,
      "as-of rerank diverged from the pre-retrain answers")
    assert(graft.ml.CrossEncoder.weightsOf(
        TextOps.loadCeModel(spark, store, asOfTrainedAt = 4L))
      .sameElements(TextOps.CeWeights))
    val eNo = intercept[IllegalArgumentException] {
      TextOps.loadCeModel(spark, store, asOfTrainedAt = -1L)
    }
    assert(eNo.getMessage.contains("no version"), eNo.getMessage)
    // NEW WEIGHTS UNDER AN EXISTING VERSION STAMP refuse loudly: a
    // same-version re-persist is only a replay when the bytes match —
    // otherwise it would silently redefine what every past consumer
    // of that version scored with (the same-version geometry rule)
    val eRedef = intercept[IllegalArgumentException] {
      TextOps.persistCeModel(spark, store,
        weights = Array(9L, 9L, 9L, 9L), trainedAt = 5L)
    }
    assert(eRedef.getMessage.contains("new trained_at"),
      eRedef.getMessage)
    // the refused persist left the stored version untouched
    assert(graft.ml.CrossEncoder.weightsOf(
        TextOps.loadCeModel(spark, store, asOfTrainedAt = 5L))
      .sameElements(Array(1L, -2L, 3L, 40L)),
      "a refused redefinition still mutated the stored version")
    // the SAME bytes replay fine (crash-recovery idempotency)
    TextOps.persistCeModel(spark, store,
      weights = Array(1L, -2L, 3L, 40L), trainedAt = 5L)
  }

  test("sparse-index updates: a re-ingested doc scores from its " +
    "latest version only, tombstones delete at read time, and " +
    "compaction folds both physically with search row-identical") {
    import graft.queries.TextOps
    val dir = "/root/testdata/sf0.01"
    val root = Files.createTempDirectory("graft-sparse-upd").toString
    val store = new ParquetStore(root)
    val docs = graft.Tables.spread(spark, dir, "documents")
      .select($"doc_id", $"text")
    // batch 0: even docs (original text); batch 1: odd docs PLUS a
    // re-ingest of every doc_id % 10 == 0 doc with CHANGED text —
    // without version resolution batch 0's postings for those docs
    // stay live and the search double-counts stale+new copies
    val changed = docs.filter($"doc_id" % 10 === 0)
      .withColumn("text", concat($"text", lit(" revised edition text")))
    TextOps.appendSparseIndex(spark,
      docs.filter($"doc_id" % 2 === 0), 0L, store)
    TextOps.appendSparseIndex(spark,
      docs.filter($"doc_id" % 2 === 1).unionByName(changed), 1L, store)
    // the corpus a one-shot engine over the LATEST versions sees
    val latest = docs.filter($"doc_id" % 10 =!= 0).unionByName(changed)
    val qs = TextOps.tokenized(docs.filter($"doc_id" < 4))
      .select($"doc_id", $"tk").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[String](1).distinct.toSeq).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "doc_id", "bm25", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    val got = rows(TextOps.bm25SearchStored(spark, store, qs))
    assert(got.nonEmpty &&
      got == rows(TextOps.bm25SearchOver(spark, latest, qs)),
      "stored search over the update history diverged from a " +
        "one-shot over the latest versions")
    // version resolution must not cost the scan its pruning: the
    // queried-buckets filter still reaches the postings scan as a
    // PARTITION filter through the stale-keys anti-join
    val sPlan = TextOps.bm25SearchStored(spark, store, qs)
      .queryExecution.executedPlan.toString
    assert(sPlan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("bucket")), sPlan)
    // a batch carrying CONFLICTING versions of one doc_id fails
    // loudly (within a batch "latest" is undefined); exact duplicate
    // rows collapse silently (replays produce them)
    intercept[IllegalArgumentException] {
      TextOps.appendSparseIndex(spark,
        spark.createDataFrame(Seq((999999L, "version one"),
          (999999L, "version two"))).toDF("doc_id", "text"),
        5L, store)
    }
    // tombstone two currently-returned docs: they vanish from the
    // rank AND from the df/totals statistics (not just the rows)
    val dead = got.map(_._2).distinct.take(2)
    TextOps.tombstoneSparseDocs(spark, dead, store)
    val afterDel = rows(TextOps.bm25SearchStored(spark, store, qs))
    assert(afterDel.forall(r => !dead.contains(r._2)),
      "tombstoned doc still returned")
    assert(afterDel == rows(TextOps.bm25SearchOver(spark,
      latest.filter(!$"doc_id".isin(dead.map(Long.box): _*)), qs)))
    // tombstones are version-scoped: a LATER re-ingest of a deleted
    // doc resurrects it (the delete killed versions up to its
    // watermark, not the doc_id forever)
    val phoenix = dead.head
    val resurrected = docs.filter($"doc_id" === phoenix)
      .withColumn("text", concat($"text", lit(" resurrected copy")))
    TextOps.appendSparseIndex(spark, resurrected, 2L, store)
    val latestRes = latest
      .filter(!$"doc_id".isin(dead.map(Long.box): _*))
      .unionByName(resurrected)
    val afterRes = rows(TextOps.bm25SearchStored(spark, store, qs))
    assert(afterRes == rows(TextOps.bm25SearchOver(spark, latestRes, qs)),
      "re-ingest after tombstone did not resurrect the doc")
    // compaction folds versions + tombstones physically: one batch
    // remains, each doc has exactly one registry row, the staging and
    // tombstone entities are gone, search is row-identical (including
    // the resurrected doc — compaction must not re-kill it)
    TextOps.compactSparseIndex(spark, store)
    assert(rows(TextOps.bm25SearchStored(spark, store, qs)) == afterRes,
      "compaction changed search results")
    // survivors relabel to the NEWEST folded batch (the snapshot
    // horizon) — "live state as of batch 2" stays a true statement
    val batches = store.read("sparse_docs", spark)
      .select($"batch".cast("long")).distinct().collect()
      .map(_.getLong(0)).toSeq
    assert(batches == Seq(2L), batches.mkString(","))
    assert(store.read("sparse_docs", spark)
      .groupBy($"doc_id").count()
      .agg(max($"count")).first().getLong(0) == 1L,
      "a doc kept more than one registry version after compaction")
    assert(!Files.exists(
      java.nio.file.Paths.get(s"$root/sparse_tombstones")))
    assert(!Files.exists(
      java.nio.file.Paths.get(s"$root/sparse_postings_stage")))
    assert(!Files.exists(
      java.nio.file.Paths.get(s"$root/sparse_docs_stage")))
    // an already-compact index is left byte-untouched (early return)
    def stamps = Files.walk(
        java.nio.file.Paths.get(s"$root/sparse_postings"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
      .toSeq.map(f => f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)))
    val s1 = stamps
    TextOps.compactSparseIndex(spark, store)
    assert(stamps == s1, "no-op compaction rewrote files")
  }

  // Randomized lifecycle property (seeded, deterministic): ANY
  // interleaving of append / update / tombstone / compact must leave
  // the stored search row-identical to a one-shot over the live
  // document model — the single invariant all four verbs exist to
  // preserve. Catches sequence-dependent bugs the scripted update
  // test can't (update-after-compact, tombstone-then-update-then-
  // compact, double compaction, ...).
  test("sparse-index lifecycle property: random verb sequences always " +
    "search like a one-shot over the live model") {
    import graft.queries.TextOps
    val root = Files.createTempDirectory("graft-sparse-prop").toString
    val store = new ParquetStore(root)
    val rnd = new scala.util.Random(20260815L)
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    def text(): String =
      Seq.fill(6 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    // the live model: doc_id -> (current text, version batch); plus
    // the full history the as-of verb must reproduce: a snapshot of
    // the model after every append, the tombstone watermarks, and the
    // compaction horizon below which snapshots must refuse
    var model = Map.empty[Long, (String, Long)]
    val snaps = scala.collection.mutable.Map.empty[Long,
      Map[Long, (String, Long)]]
    var tombs = Map.empty[Long, Long]
    var horizon = -1L
    var nextDoc = 0L
    var batch = 0L
    def append(n: Int, updates: Int): Unit = {
      val fresh = (0 until n).map { _ =>
        val id = nextDoc; nextDoc += 1; id -> text()
      }
      val upd = rnd.shuffle(model.keys.toSeq).take(updates)
        .map(id => id -> (text() + " revised"))
      val rows = fresh ++ upd
      if (rows.nonEmpty) {
        TextOps.appendSparseIndex(spark,
          spark.createDataFrame(rows).toDF("doc_id", "text"),
          batch, store)
        model ++= rows.map { case (id, t) => id -> (t, batch) }
        snaps(batch) = model
        batch += 1
      }
    }
    def tombstone(n: Int): Unit = {
      val ids = rnd.shuffle(model.keys.toSeq).take(n)
      if (ids.nonEmpty) {
        TextOps.tombstoneSparseDocs(spark, ids, store)
        // the default watermark: the max ingested batch at call time;
        // re-deletes keep the max (the never-narrows discipline)
        val upto = batch - 1
        tombs ++= ids.map(id =>
          id -> math.max(upto, tombs.getOrElse(id, Long.MinValue)))
        model --= ids
      }
    }
    def compact(): Unit = {
      TextOps.compactSparseIndex(spark, store)
      horizon = batch - 1 // folds into the newest ingested batch
    }
    val queries = Seq(
      1000L -> Seq("alpha", "delta", "kilo"),
      1001L -> Seq("bravo", "echo", "lima", "golf"),
      1002L -> Seq("charlie", "india"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // what an as-of read must serve: the model as of the cut, with
    // tombstones applied RETROACTIVELY (a delete shadows the versions
    // at or below its watermark in every snapshot)
    def expectedAt(b: Long): Seq[(Long, String)] =
      snaps(b).collect { case (id, (t, vb))
        if !tombs.get(id).exists(vb <= _) => id -> t }.toSeq
    def check(tag: String): Unit = {
      val live = spark.createDataFrame(
          model.toSeq.map { case (id, (t, _)) => (id, t) })
        .toDF("doc_id", "text")
      assert(rows(TextOps.bm25SearchStored(spark, store, queries)) ==
        rows(TextOps.bm25SearchOver(spark, live, queries)),
        s"diverged after: $tag (model size ${model.size})")
      // the SAME invariant for every other stored retrieval verb —
      // each serves from the identical postings/forward state, so any
      // sequence-dependent lifecycle bug must show on all of them
      assert(rows(TextOps.proximityRankStored(spark, store, queries))
        == rows(TextOps.proximityRankOver(spark, live, queries)),
        s"proximity diverged after: $tag")
      assert(rows(TextOps.lmDirichletStored(spark, store, queries)) ==
        rows(TextOps.lmDirichletOver(spark, live, queries)),
        s"LM diverged after: $tag")
      assert(rows(TextOps.prfExpandStored(spark, store, queries)) ==
        rows(TextOps.prfExpandOver(spark, live, queries)),
        s"PRF diverged after: $tag")
      assert(rows(TextOps.lateInteractionStored(spark, store, queries,
          k = 3, shortK = 4)) ==
        rows(TextOps.lateInteractionOver(spark, live, queries,
          k = 3, shortK = 4)),
        s"MaxSim diverged after: $tag")
      // the as-of twin of the same invariant, at the oldest and the
      // newest servable cut (every cut at or above the horizon must
      // re-derive its historical search exactly)
      val servable = snaps.keys.filter(_ >= math.max(horizon, 0L)).toSeq
      servable.sorted.distinct match {
        case s if s.isEmpty => ()
        case s => Seq(s.head, s.last).distinct.foreach { b =>
          assert(rows(TextOps.bm25SearchStored(spark, store, queries,
            asOfBatch = b)) ==
            rows(TextOps.bm25SearchOver(spark,
              spark.createDataFrame(expectedAt(b))
                .toDF("doc_id", "text"), queries)),
            s"as-of $b diverged after: $tag")
        }
      }
      // cuts below the compaction horizon refuse loudly
      if (snaps.keys.exists(_ < horizon)) {
        val e = intercept[IllegalArgumentException] {
          TextOps.bm25SearchStored(spark, store, queries,
            asOfBatch = snaps.keys.filter(_ < horizon).min).collect()
        }
        assert(e.getMessage.contains("horizon"), e.getMessage)
      }
    }
    append(12, 0);                         check("initial append")
    append(6, 4);                          check("append+update")
    tombstone(3);                          check("tombstone")
    append(4, 3);                          check("update after tombstone")
    compact();                             check("compact")
    append(5, 2); tombstone(2);            check("post-compact churn")
    compact();                             check("second compact")
    assert(model.nonEmpty && batch >= 4) // the sequence was non-trivial
  }

  // The serving-path scale contract (the reference's O(1) GET,
  // ceph.py:125-129): a keyed read of a partitioned store resolves
  // DIRECTLY to the key's partition directory — the scan's input
  // files all live under that one partition no matter how many other
  // keys the entity holds, so per-request listing cost is O(1) in the
  // store size (the r7 100-chip prediction stage was super-linear
  // precisely because every request re-listed every partition).
  // String key values with partition-path special characters ('/',
  // '=', ':', '%', spaces) must hit the same escaped directory Spark's
  // partitioned writer created: unescaped path building would make
  // readKeyed silently fall back to the full scan (correct rows, O(1)
  // claim lost) and — worse — delete no-op on a nonexistent path,
  // breaking the delete-before-write idempotency contract.
  test("keyed read/delete resolve escaped string-key partitions") {
    val tmp = Files.createTempDirectory("graft-esc-key").toString
    val store = new ParquetStore(tmp)
    val ugly = "a/b=c:d e%f"
    store.write("ent",
      Seq((ugly, 1L, "hit"), ("plain", 2L, "other"))
        .toDF("name", "id", "v"),
      Seq("name"))
    val one = store.readKeyed("ent", Seq("name" -> ugly), spark)
    assert(one.select($"v").as[String].collect().toSet == Set("hit"))
    // the O(1) path resolved (not the full-scan fallback): no input
    // file from any OTHER key's partition was listed
    assert(one.inputFiles.nonEmpty &&
      one.inputFiles.forall(!_.contains("name=plain")),
      one.inputFiles.mkString(", "))
    // keyed delete drops the escaped partition — not a silent no-op
    store.delete("ent", Seq("name" -> ugly))
    assert(store.read("ent", spark)
      .select($"v").as[String].collect().toSet == Set("other"))
  }

  test("keyed point read scans only its own partition") {
    val store = new ParquetStore(
      Files.createTempDirectory("graft-keyread").toString)
    val df = (0L until 8L).map(k => (k, k * 10, s"v$k"))
      .toDF("cx", "cy", "v")
    store.write("seg", df, Seq("cx", "cy"))
    val one = store.readKeyed("seg", Seq("cx" -> 3L, "cy" -> 30L), spark)
    // column-identical to the filtered full read, rows identical
    val full = store.read("seg", spark)
      .filter($"cx" === 3L && $"cy" === 30L)
    assert(one.columns.sorted.toSeq == full.columns.sorted.toSeq, "schema")
    assert(one.select($"v").as[String].collect().toSet == Set("v3"), "rows")
    // the O(1) listing: every input file is inside the key's own
    // partition directory — 7 other partitions never listed/read
    val files = one.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("cx=3")),
      s"inputFiles: ${files.mkString(", ")}")
    // caller key order must not matter (layout order is discovered,
    // same as keyed delete)
    val rev = store.readKeyed("seg", Seq("cy" -> 30L, "cx" -> 3L), spark)
    assert(rev.select($"v").as[String].collect().toSet == Set("v3"),
      "reversed key order")
    assert(rev.inputFiles.forall(_.contains("cx=3")), "rev list")
    // absent key: zero rows, same schema, no error — a GET miss
    val miss = store.readKeyed("seg", Seq("cx" -> 99L, "cy" -> 0L), spark)
    assert(miss.count() == 0, "miss")
    assert(miss.columns.sorted.toSeq == full.columns.sorted.toSeq,
      "miss schema")
  }

  // Store.writeKeyed: the single-partition keyed commit must be
  // observationally identical to write() under its precondition
  // (every row carries the key) — same rows, same keyed/unkeyed
  // reads, same delete parity, idempotent replay.
  test("writeKeyed lands one key partition with write()'s observable " +
    "state and leaves every other key untouched") {
    val tmp = Files.createTempDirectory("graft-writekeyed").toString
    val store = new ParquetStore(s"$tmp/pq")
    // seed the entity with two keys via the generic write
    store.write("seg", Seq((1L, 10L, "a"), (2L, 20L, "b"))
      .toDF("cx", "cy", "v"), Seq("cx", "cy"))
    // keyed overwrite of chip (1, 10) only
    store.writeKeyed("seg", Seq((1L, 10L, "a2"), (1L, 10L, "a3"))
      .toDF("cx", "cy", "v"), Seq("cx", "cy"),
      Seq("cx" -> 1L, "cy" -> 10L))
    val got = store.read("seg", spark)
      .select($"cx".cast("long"), $"v").as[(Long, String)]
      .collect().toSet
    assert(got == Set((1L, "a2"), (1L, "a3"), (2L, "b")), got.toString)
    // keyed read sees exactly the rewritten partition, O(1)-listed
    val one = store.readKeyed("seg", Seq("cx" -> 1L, "cy" -> 10L), spark)
    assert(one.select($"v").as[String].collect().toSet == Set("a2", "a3"),
      "keyed rows")
    assert(one.inputFiles.nonEmpty &&
      one.inputFiles.forall(_.contains("cx=1")),
      one.inputFiles.mkString(", "))
    // caller key-value order must not matter (layout discovered)
    store.writeKeyed("seg", Seq((2L, 20L, "b2")).toDF("cx", "cy", "v"),
      Seq("cx", "cy"), Seq("cy" -> 20L, "cx" -> 2L))
    assert(store.readKeyed("seg", Seq("cx" -> 2L, "cy" -> 20L), spark)
      .select($"v").as[String].collect().toSet == Set("b2"),
      "reversed keyValues")
    // delete parity: keyed delete drops the keyed-written partition
    store.delete("seg", Seq("cx" -> 1L, "cy" -> 10L))
    assert(store.read("seg", spark).select($"v").as[String]
      .collect().toSet == Set("b2"), "delete parity")
    // idempotent replay: rewriting the same key twice holds one copy
    (1 to 2).foreach { _ =>
      store.writeKeyed("seg", Seq((1L, 10L, "a2")).toDF("cx", "cy", "v"),
        Seq("cx", "cy"), Seq("cx" -> 1L, "cy" -> 10L))
    }
    assert(store.readKeyed("seg", Seq("cx" -> 1L, "cy" -> 10L), spark)
      .count() == 1, "replay")
    // a FRESH entity lands in the caller's key order, matching write()
    val fresh = new ParquetStore(s"$tmp/fresh")
    fresh.writeKeyed("seg", Seq((3L, 30L, "c")).toDF("cx", "cy", "v"),
      Seq("cx", "cy"), Seq("cx" -> 3L, "cy" -> 30L))
    val files = fresh.read("seg", spark).inputFiles
    assert(files.nonEmpty &&
      files.forall(f => f.contains("cx=3") && f.contains("cy=30")),
      files.mkString(", "))
    assert(fresh.readKeyed("seg", Seq("cx" -> 3L, "cy" -> 30L), spark)
      .select($"v").as[String].collect().toSeq == Seq("c"))
  }

  // A driver that dies inside a committer-run write (the generic
  // write path) leaves the key directory holding only a _temporary/ tree.
  // That key must read as a GET miss (zero rows, the full read's
  // columns), not fail schema inference, and no other key may change.
  test("a keyed commit that crashed after its delete reads as a GET " +
    "miss, not a schema-inference error") {
    val root = Files.createTempDirectory("graft-crash-leftover")
    val store = new ParquetStore(root.toString)
    store.write("seg", Seq((1L, 10L, "a"), (2L, 20L, "b"))
      .toDF("cx", "cy", "v"), Seq("cx", "cy"))
    val key = root.resolve("seg/cx=1/cy=10")
    Files.walk(key).sorted(java.util.Comparator.reverseOrder[
      java.nio.file.Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(key.resolve("_temporary/0"))
    val full = store.read("seg", spark)
    val miss = store.readKeyed("seg", Seq("cx" -> 1L, "cy" -> 10L), spark)
    assert(miss.count() == 0)
    assert(miss.columns.sorted.toSeq == full.columns.sorted.toSeq,
      miss.columns.mkString(", "))
    assert(store.readKeyed("seg", Seq("cx" -> 2L, "cy" -> 20L), spark)
      .select($"v").as[String].collect().toSeq == Seq("b"))
    assert(full.select($"v").as[String].collect().toSeq == Seq("b"))
  }

  // Fault injection: writeKeyed's staging job fails. The job runs
  // before the delete, so the failure surfaces, the key keeps exactly
  // its old rows (a reader sees old rows or new rows), the stage is
  // removed, no other key changes, and a retry lands exactly one copy.
  test("a keyed write whose job fails surfaces the error, keeps the " +
    "key's old rows and others intact, and a retry lands once") {
    val root = Files.createTempDirectory("graft-write-fault")
    val store = new ParquetStore(root.toString)
    store.write("seg", Seq((1L, 10L, "a"), (2L, 20L, "b"))
      .toDF("cx", "cy", "v"), Seq("cx", "cy"))
    val boom = udf((v: String) =>
      if (v.nonEmpty) throw new IllegalStateException("injected") else v)
    val bad = Seq((1L, 10L, "a2")).toDF("cx", "cy", "v")
      .withColumn("v", boom($"v"))
    intercept[org.apache.spark.SparkException] {
      store.writeKeyed("seg", bad, Seq("cx", "cy"),
        Seq("cx" -> 1L, "cy" -> 10L))
    }
    val full = store.read("seg", spark)
    val old = store.readKeyed("seg", Seq("cx" -> 1L, "cy" -> 10L), spark)
    assert(old.columns.sorted.toSeq == full.columns.sorted.toSeq,
      old.columns.mkString(", "))
    assert(old.select($"cx".cast("long"), $"cy".cast("long"), $"v")
      .as[(Long, Long, String)].collect().toSeq == Seq((1L, 10L, "a")))
    assert(Option(root.resolve("seg/_staging").toFile.list())
      .forall(_.isEmpty), "the failed job's stage was left behind")
    assert(store.readKeyed("seg", Seq("cx" -> 2L, "cy" -> 20L), spark)
      .select($"v").as[String].collect().toSeq == Seq("b"))
    store.writeKeyed("seg", Seq((1L, 10L, "a2")).toDF("cx", "cy", "v"),
      Seq("cx", "cy"), Seq("cx" -> 1L, "cy" -> 10L))
    assert(store.readKeyed("seg", Seq("cx" -> 1L, "cy" -> 10L), spark)
      .select($"v").as[String].collect().toSeq == Seq("a2"))
  }

  // The staged file comes from Spark's own parquet writer, so it must
  // be indistinguishable from a df.write.parquet copy: same file
  // schema, Spark row metadata and codec, and the same rows and schema
  // through readKeyed, for every column type the lifecycle sinks write.
  test("writeKeyed stages one file that matches df.write.parquet's for " +
    "every column type the lifecycle sinks write") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val tmp = Files.createTempDirectory("graft-keyed-parity")
    val store = new ParquetStore(tmp.resolve("pq").toString)
    val d = (s: String) => java.sql.Date.valueOf(s)
    val df = Seq(
      (1L, 10L, Option(7), 0.5, d("2001-07-01"),
        Seq(d("2001-07-01"), d("2002-07-01")), Seq(1.5f, -2.5f),
        Seq(0.25, 0.75), Seq(true, false), Array[Byte](1, 2, 3)),
      (1L, 10L, None, -1.0, d("1985-01-02"), Seq.empty[java.sql.Date],
        Seq.empty[Float], Seq(1.0), Seq.empty[Boolean], Array.empty[Byte]),
      (1L, 10L, Option(-3), 1e300, d("2017-12-31"), null, Seq(0f),
        null, null, null))
      .toDF("cx", "cy", "i", "x", "day", "days", "f", "dd", "mask", "bin")
    store.writeKeyed("ent", df, Seq("cx", "cy"), Seq("cx" -> 1L, "cy" -> 10L))
    val ref = tmp.resolve("ref")
    df.coalesce(1).write.partitionBy("cx", "cy").parquet(ref.toString)
    val want = spark.read.parquet(ref.toString)
      .withColumn("cx", $"cx".cast("bigint"))
      .withColumn("cy", $"cy".cast("bigint"))
    val got = store.readKeyed("ent", Seq("cx" -> 1L, "cy" -> 10L), spark)
    assert(got.schema == want.schema, s"${got.schema} vs ${want.schema}")
    def rows(f: org.apache.spark.sql.DataFrame) =
      f.orderBy($"x").collect().toSeq
    assert(rows(got) == rows(want))
    // the key directory holds exactly one data file and no commit tree
    def listed(dir: java.nio.file.Path) = dir.toFile.list().toSeq
    val key = tmp.resolve("pq/ent/cx=1/cy=10")
    val data = listed(key).filterNot(n => n.startsWith(".") ||
      n.startsWith("_"))
    assert(data.size == 1 && data.head.endsWith(".parquet"),
      listed(key).mkString(", "))
    assert(!listed(key).exists(_.startsWith("_")),
      listed(key).mkString(", "))
    assert(listed(tmp.resolve("pq/ent/_staging")).isEmpty)
    val refFile = listed(ref.resolve("cx=1/cy=10"))
      .filter(_.endsWith(".parquet")).head
    def footer(f: java.nio.file.Path) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toString),
        spark.sparkContext.hadoopConfiguration))
      try r.getFooter finally r.close()
    }
    val (a, b) = (footer(key.resolve(data.head)),
      footer(ref.resolve(s"cx=1/cy=10/$refFile")))
    assert(a.getFileMetaData.getSchema == b.getFileMetaData.getSchema,
      s"${a.getFileMetaData.getSchema} vs ${b.getFileMetaData.getSchema}")
    val meta = "org.apache.spark.sql.parquet.row.metadata"
    assert(a.getFileMetaData.getKeyValueMetaData.get(meta) ==
      b.getFileMetaData.getKeyValueMetaData.get(meta))
    def codecs(m: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
      m.getBlocks.get(0).getColumns.toArray.toSeq.map(
        _.asInstanceOf[org.apache.parquet.hadoop.metadata
          .ColumnChunkMetaData].getCodec)
    assert(codecs(a) == codecs(b))
  }

  // A driver that dies while its write job runs leaves a stage holding
  // a partial file. Readers skip `_`-prefixed directories, so no read
  // of any key may change, and later keyed writes still land.
  test("a crashed stage holding a truncated file changes no read") {
    val root = Files.createTempDirectory("graft-stage-leftover")
    val store = new ParquetStore(root.toString)
    store.write("seg", Seq((1L, 10L, "a"), (2L, 20L, "b"))
      .toDF("cx", "cy", "v"), Seq("cx", "cy"))
    def all = store.read("seg", spark)
      .select($"cx".cast("long"), $"cy".cast("long"), $"v")
      .as[(Long, Long, String)].collect().toSet
    def one(cx: Long, cy: Long) =
      store.readKeyed("seg", Seq("cx" -> cx, "cy" -> cy), spark)
        .select($"v").as[String].collect().toSeq
    val before = (all, one(1L, 10L), one(2L, 20L),
      store.readKeyed("seg", Seq("cx" -> 9L, "cy" -> 9L), spark).count())
    val key = root.resolve("seg/cx=1/cy=10")
    val file = key.toFile.list().filter(_.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(key.resolve(file))
    val stage = root.resolve("seg/_staging/crashed")
    Files.createDirectories(stage)
    Files.write(stage.resolve("part-00000-crashed-c000.snappy.parquet"),
      bytes.take(bytes.length / 2))
    assert((all, one(1L, 10L), one(2L, 20L),
      store.readKeyed("seg", Seq("cx" -> 9L, "cy" -> 9L), spark).count())
      == before)
    store.writeKeyed("seg", Seq((2L, 20L, "b2")).toDF("cx", "cy", "v"),
      Seq("cx", "cy"), Seq("cx" -> 2L, "cy" -> 20L))
    assert(one(2L, 20L) == Seq("b2") && one(1L, 10L) == Seq("a"))
  }

  test("a warm keyed write of a local frame runs exactly one Spark job") {
    val store = new ParquetStore(
      Files.createTempDirectory("graft-keyed-pin").toString)
    def put(v: String): Unit =
      store.writeKeyed("seg", Seq((1L, 10L, v)).toDF("cx", "cy", "v"),
        Seq("cx", "cy"), Seq("cx" -> 1L, "cy" -> 10L))
    put("warm")
    // count only this thread's jobs: tag them with a local property
    val tag = "graft.test.keyedPin"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(tag) != null)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setLocalProperty(tag, "1")
      try put("hot")
      finally spark.sparkContext.setLocalProperty(tag, null)
      org.apache.spark.sql.graftbridge.ColumnBridge.flushListenerBus(spark)
      assert(jobs.get() == 1, s"${jobs.get()} jobs for one keyed write")
    } finally spark.sparkContext.removeSparkListener(l)
    assert(store.readKeyed("seg", Seq("cx" -> 1L, "cy" -> 10L), spark)
      .select($"v").as[String].collect().toSeq == Seq("hot"))
  }

  test("keyed-read schema memo never pins partition-column types " +
    "across keys") {
    val root = Files.createTempDirectory("graft-memotypes").toString
    val store = new ParquetStore(root)
    // ts=3 alone infers int; ts=5000000000 only fits long — the memo
    // must not freeze the first read's partition-column type (only the
    // FILE schema is memoized; keyTyped pins the caller's type per read)
    store.write("ev", Seq((3L, "x"), (5000000000L, "y")).toDF("ts", "v"),
      Seq("ts"))
    assert(store.readKeyed("ev", Seq("ts" -> 3L), spark)
      .select($"v").as[String].collect().toSeq == Seq("x"))
    val r = store.readKeyed("ev", Seq("ts" -> 5000000000L), spark)
      .select($"ts".cast("long"), $"v").as[(Long, String)]
      .collect().toSeq
    assert(r == Seq((5000000000L, "y")), r.toString)
  }

  test("keyed-read miss on an emptied entity matches the unkeyed " +
    "error semantics (memo never fabricates an empty frame)") {
    val root = Files.createTempDirectory("graft-memomiss").toString
    val store = new ParquetStore(root)
    store.write("seg", Seq((1L, 10L, "a")).toDF("cx", "cy", "v"),
      Seq("cx", "cy"))
    // populate the memo via a keyed hit
    assert(store.readKeyed("seg", Seq("cx" -> 1L, "cy" -> 10L), spark)
      .count() == 1)
    // empty the entity (drop its only partition)
    store.delete("seg", Seq("cx" -> 1L, "cy" -> 10L))
    def fails(f: => Long): Boolean =
      try { f; false } catch { case _: Exception => true }
    val unkeyed = fails(store.read("seg", spark).count())
    val keyed = fails(store.readKeyed("seg",
      Seq("cx" -> 1L, "cy" -> 10L), spark).count())
    assert(keyed == unkeyed, s"keyed miss errors=$keyed vs unkeyed=$unkeyed")
  }

  test("a compaction crashed mid-move rolls FORWARD from the stage " +
    "instead of destroying the only surviving copy") {
    import graft.queries.TextOps
    val root = Files.createTempDirectory("graft-crash").toString
    val store = new ParquetStore(root)
    TextOps.appendSparseIndex(spark, Seq(
      (0L, "alpha beta gamma"), (1L, "alpha beta delta"),
      (2L, "unrelated words")).toDF("doc_id", "text"), 0L, store)
    TextOps.appendSparseIndex(spark, Seq(
      (3L, "alpha beta gamma extra")).toDF("doc_id", "text"), 1L, store)
    val qs = Seq(9L -> Seq("alpha", "beta", "gamma"))
    def rows() = TextOps.bm25SearchStored(spark, store, qs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    TextOps.compactSparseIndex(spark, store)
    val before = rows()
    assert(before.nonEmpty)
    // simulate the crash window the intent marker protects: the
    // consolidated copy exists ONLY in the stage entities + intent;
    // both main entities are gone (the worst point of the move)
    store.write("sparse_postings_stage",
      store.read("sparse_postings", spark)
        .withColumn("batch", $"batch".cast("long"))
        .withColumn("bucket", $"bucket".cast("long"))
        .localCheckpoint(true),
      Seq("batch", "bucket"))
    store.write("sparse_docs_stage",
      store.read("sparse_docs", spark)
        .withColumn("batch", $"batch".cast("long"))
        .withColumn("dbucket", $"dbucket".cast("long"))
        .localCheckpoint(true),
      Seq("batch", "dbucket"))
    store.write("sparse_compact_intent",
      spark.createDataFrame(Seq(Tuple1(1L))).toDF("horizon"), Seq.empty)
    store.delete("sparse_postings", Seq.empty)
    store.delete("sparse_docs", Seq.empty)
    // re-running compaction must COMPLETE the move (the old behavior
    // cleared the stage — permanently losing the index)
    TextOps.compactSparseIndex(spark, store)
    assert(rows() == before, "roll-forward lost or changed the index")
    assert(!Files.exists(
      java.nio.file.Paths.get(s"$root/sparse_compact_intent")))
    assert(!Files.exists(
      java.nio.file.Paths.get(s"$root/sparse_postings_stage")))
    // WITHOUT the intent marker a populated stage is pre-move litter:
    // it must never roll into main (searches keep serving main; the
    // next real compaction clears it before staging)
    store.write("sparse_postings_stage",
      store.read("sparse_postings", spark)
        .withColumn("batch", lit(999L))
        .withColumn("bucket", $"bucket".cast("long"))
        .localCheckpoint(true),
      Seq("batch", "bucket"))
    TextOps.compactSparseIndex(spark, store)
    assert(rows() == before, "stage litter leaked into the index")
  }

  test("appends below the compaction horizon fail loudly instead of " +
    "destroying the consolidated partition on replay") {
    import graft.queries.TextOps
    val root = Files.createTempDirectory("graft-horizon").toString
    val store = new ParquetStore(root)
    TextOps.appendSparseIndex(spark, Seq(
      (0L, "alpha beta"), (1L, "alpha gamma")).toDF("doc_id", "text"),
      0L, store)
    TextOps.appendSparseIndex(spark, Seq(
      (2L, "alpha delta")).toDF("doc_id", "text"), 1L, store)
    TextOps.compactSparseIndex(spark, store) // horizon = 1
    // a replay of batch 1 (e.g. a restarted stream re-running its last
    // micro-batch) would delete-before-write the batch=1 partition the
    // WHOLE corpus now lives in — it must refuse
    val e = intercept[IllegalArgumentException] {
      TextOps.appendSparseIndex(spark,
        Seq((2L, "alpha delta")).toDF("doc_id", "text"), 1L, store)
    }
    assert(e.getMessage.contains("horizon"), e.getMessage)
    // fresh ids above the horizon ingest normally
    TextOps.appendSparseIndex(spark, Seq(
      (3L, "alpha epsilon")).toDF("doc_id", "text"), 2L, store)
    val got = TextOps.bm25SearchStored(spark, store,
      Seq(9L -> Seq("alpha"))).collect().map(_.getLong(1)).toSet
    assert(got == Set(0L, 1L, 2L, 3L), got.toString)
  }

  test("re-tombstoning never narrows a delete and compaction keeps " +
    "forward-shadowing tombstones") {
    import graft.queries.TextOps
    val root = Files.createTempDirectory("graft-tomb-max").toString
    val store = new ParquetStore(root)
    TextOps.appendSparseIndex(spark, Seq(
      (0L, "alpha beta"), (1L, "alpha gamma"),
      (2L, "alpha delta")).toDF("doc_id", "text"), 0L, store)
    def alive() = TextOps.bm25SearchStored(spark, store,
      Seq(9L -> Seq("alpha"))).collect().map(_.getLong(1)).toSet
    // doc 1 deleted with an explicitly FUTURE watermark, then
    // re-deleted with the default (current max batch = 0): the
    // per-doc overwrite must keep the max — the wide delete stands
    TextOps.tombstoneSparseDocs(spark, Seq(1L), store, uptoBatch = 100L)
    TextOps.tombstoneSparseDocs(spark, Seq(1L), store)
    TextOps.appendSparseIndex(spark, Seq(
      (1L, "alpha reborn")).toDF("doc_id", "text"), 1L, store)
    assert(alive() == Set(0L, 2L),
      "the narrower re-tombstone resurrected a batch the first " +
        "delete shadowed")
    // compaction folds the index (into = 1 < 100) but must KEEP the
    // still-forward-shadowing tombstone: an ingest at batch 2 ≤ 100
    // stays dead
    TextOps.compactSparseIndex(spark, store)
    TextOps.appendSparseIndex(spark, Seq(
      (1L, "alpha again")).toDF("doc_id", "text"), 2L, store)
    assert(alive() == Set(0L, 2L),
      "compaction retired a tombstone whose watermark still reaches " +
        "past the folded horizon")
    // a re-ingest ABOVE the watermark resurrects (version scoping)
    TextOps.appendSparseIndex(spark, Seq(
      (1L, "alpha finally")).toDF("doc_id", "text"), 101L, store)
    assert(alive() == Set(0L, 1L, 2L))
  }

  test("stored proximity + LM Dirichlet search the persisted index " +
    "row-identical to one-shot across update, tombstone, compaction, " +
    "and as-of cuts") {
    import graft.queries.TextOps
    val root = Files.createTempDirectory("graft-prox-lm").toString
    val store = new ParquetStore(root)
    // a corpus where proximity and LM genuinely discriminate:
    // repeated terms, varying gaps, shared vocabulary
    var model = Map(
      0L -> "alpha beta gamma delta epsilon zeta",
      1L -> "alpha x x x beta x x gamma",
      2L -> "gamma beta alpha alpha beta",
      3L -> "x alpha x beta x x x x gamma x",
      4L -> "beta beta beta alpha gamma gamma",
      5L -> "zeta epsilon delta gamma beta alpha")
    TextOps.appendSparseIndex(spark,
      spark.createDataFrame(model.toSeq).toDF("doc_id", "text"),
      0L, store)
    val queries = Seq(
      100L -> Seq("alpha", "beta", "gamma"),
      101L -> Seq("gamma", "beta"),
      102L -> Seq("delta", "epsilon"))
    def prox(asOf: Long = Long.MaxValue) =
      TextOps.proximityRankStored(spark, store, queries,
        asOfBatch = asOf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    def lm(asOf: Long = Long.MaxValue) =
      TextOps.lmDirichletStored(spark, store, queries,
        asOfBatch = asOf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    def proxOne() = TextOps.proximityRankOver(spark,
      spark.createDataFrame(model.toSeq).toDF("doc_id", "text"),
      queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    def lmOne() = TextOps.lmDirichletOver(spark,
      spark.createDataFrame(model.toSeq).toDF("doc_id", "text"),
      queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(prox() == proxOne() && prox().nonEmpty, "initial proximity")
    assert(lm() == lmOne() && lm().nonEmpty, "initial LM")
    val (p0, l0) = (prox(), lm())
    // UPDATE: doc 1's terms move (positions change -> proximity must
    // rank at the LATEST positions; tf changes -> LM rescore)
    model += 1L -> "alpha beta gamma x x alpha"
    model += 6L -> "alpha beta x gamma delta epsilon"
    TextOps.appendSparseIndex(spark,
      spark.createDataFrame(Seq(
        1L -> model(1L), 6L -> model(6L))).toDF("doc_id", "text"),
      1L, store)
    assert(prox() == proxOne(), "proximity diverged after update")
    assert(lm() == lmOne(), "LM diverged after update")
    // the as-of cut re-derives the pre-update ranking exactly
    assert(prox(0L) == p0, "as-of proximity diverged")
    assert(lm(0L) == l0, "as-of LM diverged")
    // TOMBSTONE: doc 2 vanishes from both scorers (and ctf/|C| shift)
    TextOps.tombstoneSparseDocs(spark, Seq(2L), store)
    model -= 2L
    assert(prox() == proxOne(), "proximity diverged after tombstone")
    assert(lm() == lmOne(), "LM diverged after tombstone")
    // COMPACTION: fold versions physically; rankings invariant
    TextOps.compactSparseIndex(spark, store)
    assert(prox() == proxOne(), "proximity diverged after compaction")
    assert(lm() == lmOne(), "LM diverged after compaction")
    // below-horizon snapshots refuse on both paths
    Seq(() => prox(0L), () => lm(0L)).foreach { f =>
      val e = intercept[IllegalArgumentException] { f() }
      assert(e.getMessage.contains("horizon"), e.getMessage)
    }
  }

  test("stored PRF expansion searches the persisted index (forward " +
    "index feedback) row-identical to one-shot across update, " +
    "tombstone, compaction, and as-of cuts") {
    import graft.queries.TextOps
    val root = Files.createTempDirectory("graft-prf").toString
    val store = new ParquetStore(root)
    // a corpus where feedback genuinely expands queries: docs sharing
    // the query terms carry co-occurring expansion vocabulary
    var model = Map(
      0L -> "alpha beta gamma delta",
      1L -> "alpha beta rho sigma rho",
      2L -> "alpha rho sigma tau",
      3L -> "beta gamma sigma upsilon",
      4L -> "rho sigma tau upsilon",
      5L -> "delta epsilon zeta eta",
      6L -> "alpha beta gamma rho sigma")
    TextOps.appendSparseIndex(spark,
      spark.createDataFrame(model.toSeq).toDF("doc_id", "text"),
      0L, store)
    val queries = Seq(
      100L -> Seq("alpha", "beta"),
      101L -> Seq("gamma", "delta"))
    def stored(asOf: Long = Long.MaxValue) =
      TextOps.prfExpandStored(spark, store, queries, asOfBatch = asOf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    def oneShot() = TextOps.prfExpandOver(spark,
      spark.createDataFrame(model.toSeq).toDF("doc_id", "text"),
      queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(stored() == oneShot() && stored().nonEmpty, "initial PRF")
    val p0 = stored()
    // UPDATE: doc 1's vocabulary shifts -> feedback docs, expansion
    // terms, and final ranks may all move; stored must track latest
    model += 1L -> "alpha beta upsilon tau"
    TextOps.appendSparseIndex(spark,
      spark.createDataFrame(Seq(1L -> model(1L))).toDF("doc_id", "text"),
      1L, store)
    assert(stored() == oneShot(), "PRF diverged after update")
    assert(stored(0L) == p0, "as-of PRF diverged")
    // TOMBSTONE: a feedback-heavy doc vanishes from rounds AND stats
    TextOps.tombstoneSparseDocs(spark, Seq(6L), store)
    model -= 6L
    assert(stored() == oneShot(), "PRF diverged after tombstone")
    // COMPACTION: physical fold, results invariant, snapshots refuse
    TextOps.compactSparseIndex(spark, store)
    assert(stored() == oneShot(), "PRF diverged after compaction")
    val e = intercept[IllegalArgumentException] { stored(0L) }
    assert(e.getMessage.contains("horizon"), e.getMessage)
  }

  test("stored late-interaction reranks from the persisted index " +
    "(forward-index term lists) row-identical to one-shot across " +
    "update, tombstone, compaction, and as-of cuts") {
    import graft.queries.TextOps
    val root = Files.createTempDirectory("graft-li").toString
    val store = new ParquetStore(root)
    // a corpus where MaxSim genuinely reorders the BM25 shortlist:
    // docs sharing query terms carry differing off-query vocabulary
    // (whose md5 embeddings dot differently against the query terms)
    var model = Map(
      0L -> "alpha beta gamma delta",
      1L -> "alpha beta rho sigma rho",
      2L -> "alpha rho sigma tau",
      3L -> "beta gamma sigma upsilon",
      4L -> "rho sigma tau upsilon alpha",
      5L -> "delta epsilon zeta eta beta",
      6L -> "alpha beta gamma rho sigma")
    TextOps.appendSparseIndex(spark,
      spark.createDataFrame(model.toSeq).toDF("doc_id", "text"),
      0L, store)
    val queries = Seq(
      100L -> Seq("alpha", "beta"),
      101L -> Seq("gamma", "delta"),
      102L -> Seq("sigma", "tau"))
    def stored(asOf: Long = Long.MaxValue) =
      TextOps.lateInteractionStored(spark, store, queries,
          k = 3, shortK = 4, asOfBatch = asOf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    def oneShot() = TextOps.lateInteractionOver(spark,
      spark.createDataFrame(model.toSeq).toDF("doc_id", "text"),
      queries, k = 3, shortK = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(stored() == oneShot() && stored().nonEmpty, "initial MaxSim")
    val p0 = stored()
    // UPDATE: doc 1's vocabulary shifts -> its shortlist membership,
    // term list, and MaxSim score all move; stored must rerank on the
    // LATEST forward-index terms only
    model += 1L -> "alpha beta upsilon tau eta"
    TextOps.appendSparseIndex(spark,
      spark.createDataFrame(Seq(1L -> model(1L))).toDF("doc_id", "text"),
      1L, store)
    assert(stored() == oneShot(), "MaxSim diverged after update")
    assert(stored(0L) == p0, "as-of MaxSim diverged")
    // TOMBSTONE: a shortlist-heavy doc vanishes from shortlist AND
    // rerank (and live df/|C| shift under it)
    TextOps.tombstoneSparseDocs(spark, Seq(6L), store)
    model -= 6L
    assert(stored() == oneShot(), "MaxSim diverged after tombstone")
    // COMPACTION: physical fold, results invariant, snapshots refuse
    TextOps.compactSparseIndex(spark, store)
    assert(stored() == oneShot(), "MaxSim diverged after compaction")
    val e = intercept[IllegalArgumentException] { stored(0L) }
    assert(e.getMessage.contains("horizon"), e.getMessage)
    // the forward read prunes at the DIRECTORY level: the shortlist
    // dbuckets reach the sparse_forward scan as a PARTITION filter
    // through the stale-keys anti-join — the 100 TB property (MaxSim
    // reads a shortlist-sized sliver of the index, never the corpus)
    val liPlan = TextOps.lateInteractionStored(spark, store, queries,
        k = 3, shortK = 4)
      .queryExecution.executedPlan.toString
    assert(liPlan.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("dbucket")), liPlan)
  }

  test("one-shot late-interaction twin equals the oracle-checked " +
    "x118 registry body on the registry corpus") {
    import graft.queries.TextOps
    val dir = "/root/testdata/sf0.01"
    // the registry's query shape: qid = doc_id < 4, query terms = the
    // doc's distinct tokens — handing the twin the same corpus frame
    // and query set ties the whole stored-MaxSim spec chain back to
    // the DuckDB-hash-checked body
    val docs = graft.Tables.spread(spark, dir, "documents")
    val queries = TextOps.tokenized(docs.filter($"doc_id" < 4))
      .select($"doc_id", $"tk").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toSeq
      .sortBy(_._1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val twin = rows(TextOps.lateInteractionOver(spark, docs, queries))
    val body = rows(
      graft.SparkEntry.queries("x118_late_interaction")(spark, dir))
    assert(twin == body && twin.nonEmpty,
      "the spec twin diverged from the oracle-checked registry body")
  }

  test("model-version retention: vacuum drops old versions (as-of " +
    "below the cut refuses), never the newest, and no-ops on " +
    "never-trained stores") {
    import graft.queries.{TextOps, VectorOps}
    val dir = "/root/testdata/sf0.01"
    val root = Files.createTempDirectory("graft-vacuum").toString
    val store = new ParquetStore(root)
    // never trained: every retention verb no-ops
    assert(VectorOps.vacuumEmbeddingVersions(spark, store, 10L) == 0)
    assert(VectorOps.vacuumAnnBookVersions(spark, store, 10L) == 0)
    assert(TextOps.vacuumCeModelVersions(spark, store, 10L) == 0)
    // three ANN book versions (no corpus in this store, so retrains
    // are legal); vacuum keeps >= keepFrom plus always the newest
    VectorOps.persistAnnBooks(spark, dir, store)
    VectorOps.persistAnnBooks(spark, dir, store, trainedAt = 1L)
    VectorOps.persistAnnBooks(spark, dir, store, trainedAt = 2L)
    val r2 = VectorOps.annIvfPqFromStore(spark, dir, store,
      asOfTrainedAt = 2L).collect().length
    // ANN-BOOK VERSION DRIFT (before retention destroys v0): the
    // three versions trained identical books, so cross-version drift
    // is exactly identity — and the report is recomputable from the
    // two as-of serves it summarizes
    val annDrift = VectorOps.annVersionDrift(spark, dir, store, 0L, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(annDrift.nonEmpty && annDrift.forall(t =>
      t._2 == t._3 && t._3 == t._4 && t._5 == 1000000L),
      s"identical-book drift not identity: ${annDrift.mkString(",")}")
    assert(VectorOps.vacuumAnnBookVersions(spark, store, 2L) == 2)
    def bookVers() = store.read("ann_coarse_book", spark)
      .select($"trained_at".cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(bookVers() == Set(2L))
    val eB = intercept[IllegalArgumentException] {
      VectorOps.annIvfPqFromStore(spark, dir, store, asOfTrainedAt = 1L)
    }
    assert(eB.getMessage.contains("no ANN book version"), eB.getMessage)
    assert(VectorOps.annIvfPqFromStore(spark, dir, store)
      .collect().length == r2, "vacuum disturbed the newest version")
    // a keepFrom above every version still retains the newest
    assert(VectorOps.vacuumAnnBookVersions(spark, store, 99L) == 0)
    assert(bookVers() == Set(2L))
    // ce_model: two versions; vacuum drops the old one only
    TextOps.persistCeModel(spark, store)
    TextOps.persistCeModel(spark, store,
      weights = Array(9L, 9L, 9L, 9L), trainedAt = 3L)
    // CE VERSION DRIFT (before retention destroys v0): different
    // weights rerank differently — the report's rows must recompute
    // exactly from the two as-of serves it summarizes
    val ceDrift = TextOps.rerankVersionDrift(spark, dir, store, 0L, 3L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def ceNbrs(ver: Long) = TextOps.rerankCrossStored(spark, dir,
        store, asOfTrainedAt = ver)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (ca, cb) = (ceNbrs(0L), ceNbrs(3L))
    assert(ceDrift.nonEmpty)
    ceDrift.foreach { case (qid, (nA, nB, ov, j6)) =>
      val (sa, sb) = (ca.getOrElse(qid, Set.empty),
        cb.getOrElse(qid, Set.empty))
      assert(nA == sa.size && nB == sb.size && ov == (sa & sb).size &&
        j6 == (if ((sa | sb).isEmpty) 1000000L
          else (sa & sb).size.toLong * 1000000L / (sa | sb).size),
        s"qid $qid ce drift row ($nA,$nB,$ov,$j6) vs serves " +
          s"(${sa.size},${sb.size},${(sa & sb).size})")
    }
    assert(TextOps.vacuumCeModelVersions(spark, store, 3L) == 1)
    val eC = intercept[IllegalArgumentException] {
      TextOps.loadCeModel(spark, store, asOfTrainedAt = 0L)
    }
    assert(eC.getMessage.contains("no version"), eC.getMessage)
    assert(graft.ml.CrossEncoder.weightsOf(
        TextOps.loadCeModel(spark, store))
      .sameElements(Array(9L, 9L, 9L, 9L)))
    // TORN version: coarse rows exist at a version whose pq rows are
    // missing (a crash between persistAnnBooks' two writes) — loading
    // fails naming the tear, and re-persisting the SAME version
    // repairs it in place
    store.write("ann_coarse_book",
      Seq((4L, 0L, Seq(0.0))).toDF("trained_at", "cid", "cv"),
      Seq("trained_at"))
    val eT = intercept[IllegalArgumentException] {
      VectorOps.loadAnnBooks(spark, store)
    }
    assert(eT.getMessage.contains("torn"), eT.getMessage)
    VectorOps.persistAnnBooks(spark, dir, store, trainedAt = 4L)
    assert(VectorOps.loadAnnBooks(spark, store)._1.nonEmpty)
  }

  // Randomized retention property (seeded, deterministic), the
  // versioned-model counterpart of the sparse-index lifecycle
  // property: under ANY interleaving of retrains and vacuums across
  // ALL THREE versioned families (embedding model, ANN books,
  // cross-encoder), every as-of read at or above the retention cut
  // serves bit-identically to the snapshot taken at training time,
  // every vacuumed version refuses loudly, and the newest version is
  // NEVER dropped — the single invariant the retention verbs exist to
  // preserve, checked against sequences the scripted per-family cases
  // can't reach (vacuum-then-retrain, double vacuum, a cut above
  // every version, cross-family interleavings).
  test("versioned-model retention property: random retrain/vacuum " +
    "interleavings keep every retained as-of serve identical and " +
    "refuse every vacuumed version, across all three families") {
    import graft.queries.{TextOps, VectorOps}
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-retention-prop").toString
    val store = new ParquetStore(s"$tmp/main")
    // the ANN family retrains in its OWN store: a book retrain under
    // a populated knn_vectors correctly refuses (the desync guard),
    // and the embedding family needs exactly that graph in its store
    val annStore = new ParquetStore(s"$tmp/ann")
    VectorOps.persistAnnBooks(spark, dir, store) // embed's fixed books
    val n = VectorOps.normalizedEmbeddings(spark, dir)
      .localCheckpoint(true)
    val rnd = new scala.util.Random(20260816L)
    // per family: version -> serve snapshot at train time; the set of
    // vacuumed versions the model says must now refuse
    val snaps = Map(
      "embed" -> scala.collection.mutable.Map.empty[Long, Any],
      "ann" -> scala.collection.mutable.Map.empty[Long, Any],
      "ce" -> scala.collection.mutable.Map.empty[Long, Any])
    val gone = scala.collection.mutable.Map(
      "embed" -> Set.empty[Long], "ann" -> Set.empty[Long],
      "ce" -> Set.empty[Long])
    def serve(family: String, ver: Long): Any = try serve0(family, ver)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          fail(s"serve($family, $ver) raised a raw engine error " +
            s"instead of a verb-level refusal: ${e.getMessage}", e)
      }
    def serve0(family: String, ver: Long): Any = family match {
      case "embed" => VectorOps.embedNeighborsStored(spark, store,
          asOfTrainedAt = ver)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSeq
      case "ann" => VectorOps.annIvfPqFromStore(spark, dir, annStore,
          asOfTrainedAt = ver)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .toSeq
      case "ce" => graft.ml.CrossEncoder.weightsOf(
        TextOps.loadCeModel(spark, store, asOfTrainedAt = ver)).toSeq
    }
    def refusal(family: String): String = family match {
      case "embed" => "no stored embedding version"
      case "ann"   => "no ANN book version"
      case "ce"    => "no version"
    }
    var embedBatch = 0L
    var annVer = -1L
    var ceVer = -1L
    def train(family: String): Unit = family match {
      case "embed" =>
        // a new embedding version needs a new walk watermark: land a
        // corpus slice, re-walk, then train at the advanced horizon
        VectorOps.appendKnnGraph(spark,
          n.filter($"vec_id" % 3 === embedBatch % 3), embedBatch, store)
        VectorOps.appendWalkCorpus(spark, store, embedBatch)
        VectorOps.trainStoredEmbeddings(spark, store)
        snaps("embed")(embedBatch) = serve("embed", embedBatch)
        embedBatch += 1
      case "ann" =>
        annVer += 1 + rnd.nextInt(2) // versions advance, gaps legal
        VectorOps.persistAnnBooks(spark, dir, annStore,
          trainedAt = annVer)
        snaps("ann")(annVer) = serve("ann", annVer)
      case "ce" =>
        ceVer += 1 + rnd.nextInt(2)
        TextOps.persistCeModel(spark, store,
          weights = Array.fill(4)(rnd.nextInt(16).toLong + 1L),
          trainedAt = ceVer)
        snaps("ce")(ceVer) = serve("ce", ceVer)
    }
    def vacuum(family: String): Unit = {
      val vers = snaps(family).keySet -- gone(family)
      if (vers.nonEmpty) {
        // cuts land below, between, at, and above the version range
        val cut = -1L + rnd.nextInt((vers.max + 3).toInt)
        val newest = vers.max
        val expectDrop = vers.filter(v => v < cut && v != newest)
        val dropped = family match {
          case "embed" =>
            VectorOps.vacuumEmbeddingVersions(spark, store, cut)
          case "ann" =>
            VectorOps.vacuumAnnBookVersions(spark, annStore, cut)
          case "ce" => TextOps.vacuumCeModelVersions(spark, store, cut)
        }
        assert(dropped == expectDrop.size,
          s"$family vacuum(cut=$cut) dropped $dropped, " +
            s"expected ${expectDrop.size} of $vers")
        gone(family) ++= expectDrop
      }
    }
    def check(tag: String): Unit =
      Seq("embed", "ann", "ce").foreach { f =>
        val retained = snaps(f).keySet -- gone(f)
        // vacuum never drops the newest version
        if (snaps(f).nonEmpty)
          assert(retained.contains(snaps(f).keySet.max),
            s"$f newest version vanished after: $tag")
        retained.foreach { v =>
          assert(serve(f, v) == snaps(f)(v),
            s"$f as-of $v diverged after: $tag")
        }
        gone(f).foreach { v =>
          val e = intercept[IllegalArgumentException] { serve(f, v) }
          assert(e.getMessage.contains(refusal(f)),
            s"$f as-of $v: ${e.getMessage}")
        }
      }
    // random interleaving: every family trains 3 versions; 5 vacuums
    // land somewhere among them (a vacuum before any train no-ops)
    val script = rnd.shuffle(
      Seq.fill(3)(Seq("embed", "ann", "ce")).flatten.map("t" -> _) ++
        (Seq.fill(2)("embed") ++ Seq.fill(2)("ann") ++ Seq("ce"))
          .map("v" -> _))
    script.zipWithIndex.foreach { case ((kind, family), i) =>
      if (kind == "t") train(family)
      else { vacuum(family); check(s"step $i: vacuum $family") }
    }
    vacuum("embed"); vacuum("ann"); vacuum("ce")
    check("final vacuums")
    assert(Seq("embed", "ann", "ce").forall(f => snaps(f).size == 3) &&
      gone.valuesIterator.exists(_.nonEmpty),
      "the sequence was trivial — no version ever vacuumed")
  }

  test("re-tombstoning with duplicate ids keeps one row per doc in " +
    "the tombstone partition (no geometric fan-out) and ANN " +
    "compaction no-ops on a store that never ingested") {
    import graft.queries.TextOps
    val root = Files.createTempDirectory("graft-tomb-dedup").toString
    val store = new ParquetStore(root)
    TextOps.appendSparseIndex(spark,
      spark.createDataFrame(Seq(
        0L -> "alpha beta", 1L -> "beta gamma", 2L -> "gamma delta"))
        .toDF("doc_id", "text"), 0L, store)
    // duplicate ids in ONE call, then repeated re-deletes: the merge
    // must stay 1 row/doc (pre-fix each round doubled doc 1's rows)
    TextOps.tombstoneSparseDocs(spark, Seq(1L, 1L, 1L), store)
    TextOps.tombstoneSparseDocs(spark, Seq(1L, 2L), store)
    TextOps.tombstoneSparseDocs(spark, Seq(1L, 1L), store)
    val perDoc = store.read("sparse_tombstones", spark)
      .groupBy($"doc_id").count().as[(Long, Long)].collect().toMap
    assert(perDoc == Map(1L -> 1L, 2L -> 1L),
      s"tombstone partitions bloated: $perDoc")
    // the ADVICE guard: ANN compaction against a never-ingested store
    // no-ops like its sketch/dedup siblings instead of throwing
    graft.queries.VectorOps.compactAnnCorpus(spark, store)
  }

  test("ANN corpus as-of reads reproduce the pre-append search, stay " +
    "retroactive under tombstones, and refuse below the compaction " +
    "horizon (which also guards batch replays)") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-ann-asof").toString
    val store = new ParquetStore(s"$tmp/ann")
    VectorOps.persistAnnBooks(spark, dir, store)
    val n = VectorOps.normalizedEmbeddings(spark, dir)
    // batch 0 carries every query id plus the even half; batch 1 the rest
    val b0 = n.filter($"vec_id" < 8 || $"vec_id" % 2 === 0)
    val b1 = n.filter($"vec_id" >= 8 && $"vec_id" % 2 === 1)
    VectorOps.appendAnnCorpus(spark, b0, 0L, store)
    def rows(asOf: Long) =
      VectorOps.annIvfPqSearchStored(spark, dir, store, asOfBatch = asOf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .toSeq
    val at0 = rows(Long.MaxValue)
    VectorOps.appendAnnCorpus(spark, b1, 1L, store)
    // the snapshot re-derives exactly what the pre-append search saw
    assert(rows(0L) == at0, "as-of 0 diverged from the pre-append search")
    assert(rows(1L) == rows(Long.MaxValue))
    // deletes are retroactive: a tombstoned vector vanishes from every
    // snapshot, not just the live read
    val dead = at0.filter(t => t._3 == 1L && t._1 == 0L).map(_._2)
    assert(dead.nonEmpty)
    VectorOps.tombstoneAnnVectors(spark, dead, store)
    assert(rows(0L).forall(t => !dead.contains(t._2)),
      "tombstoned vector served through a snapshot")
    // compaction folds per-batch history; horizon = newest folded batch
    VectorOps.compactAnnCorpus(spark, store)
    assert(rows(1L) == rows(Long.MaxValue),
      "as-of at the horizon diverged from the live read")
    val e = intercept[IllegalArgumentException] { rows(0L) }
    assert(e.getMessage.contains("horizon"), e.getMessage)
    // a batch replay at or below the horizon would delete-before-write
    // the consolidated partition — it must refuse
    val e2 = intercept[IllegalArgumentException] {
      VectorOps.appendAnnCorpus(spark, b1, 1L, store)
    }
    assert(e2.getMessage.contains("horizon"), e2.getMessage)
    // fresh ingest above the horizon proceeds, and the horizon snapshot
    // still excludes it
    val preAppend = rows(1L)
    VectorOps.appendAnnCorpus(spark,
      n.filter($"vec_id" >= 8 && $"vec_id" % 2 === 1)
        .select(($"vec_id" + 200000L).as("vec_id"), $"v"), 2L, store)
    assert(rows(1L) == preAppend,
      "a later append leaked into an earlier snapshot")
  }

  test("ANN corpus compaction crashed mid-move rolls forward from " +
    "the stage (shared StagedFold discipline)") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-ann-crash").toString
    val store = new ParquetStore(s"$tmp/ann")
    VectorOps.persistAnnBooks(spark, dir, store)
    val n = VectorOps.normalizedEmbeddings(spark, dir)
    VectorOps.appendAnnCorpus(spark, n.filter($"vec_id" % 2 === 0), 0L, store)
    VectorOps.appendAnnCorpus(spark, n.filter($"vec_id" % 2 === 1), 1L, store)
    def rows() = VectorOps.annIvfPqSearchStored(spark, dir, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    VectorOps.compactAnnCorpus(spark, store)
    val before = rows()
    // the worst point of the move: consolidated copy ONLY in the stage
    // + intent marker; the main entity is gone
    store.write("ann_corpus_stage",
      store.read("ann_corpus", spark)
        .withColumn("batch", $"batch".cast("long"))
        .withColumn("cell", $"cell".cast("long"))
        .localCheckpoint(true),
      Seq("batch", "cell"))
    store.write("ann_compact_intent",
      spark.createDataFrame(Seq(Tuple1(1L))).toDF("horizon"), Seq.empty)
    store.delete("ann_corpus", Seq.empty)
    VectorOps.compactAnnCorpus(spark, store)
    assert(rows() == before, "roll-forward lost or changed the corpus")
    assert(!Files.exists(
      java.nio.file.Paths.get(s"$tmp/ann/ann_compact_intent")))
    assert(!Files.exists(
      java.nio.file.Paths.get(s"$tmp/ann/ann_corpus_stage")))
  }

  test("k-NN graph as-of reads: stored partitions for untouched " +
    "cells plus a batch-cut re-edge of touched cells reproduce the " +
    "pre-append graph exactly; rebalance advances the horizon") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-knn-asof").toString
    val store = new ParquetStore(s"$tmp/knn")
    VectorOps.persistAnnBooks(spark, dir, store)
    val n = VectorOps.normalizedEmbeddings(spark, dir).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSeq
    VectorOps.appendKnnGraph(spark, n.filter($"vec_id" % 2 === 0), 0L, store)
    val g0 = rows(VectorOps.knnGraphStored(spark, store))
    VectorOps.appendKnnGraph(spark, n.filter($"vec_id" % 2 === 1), 1L, store)
    val live = rows(VectorOps.knnGraphStored(spark, store))
    assert(rows(VectorOps.knnGraphStored(spark, store, asOfBatch = 0L))
      == g0, "as-of 0 diverged from the pre-append graph")
    assert(rows(VectorOps.knnGraphStored(spark, store, asOfBatch = 1L))
      == live)
    n.unpersist()
    // rebalance relabels cells in place — historical membership below
    // it no longer exists, so snapshots below its horizon refuse, and
    // so do pre-rebalance batch replays
    val counts = store.read("knn_vectors", spark)
      .groupBy($"cell").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val cap = (counts.values.max + counts.values.sum / counts.size) / 2
    assert(VectorOps.rebalanceKnnCells(spark, store, cap.toInt) > 0,
      "fixture no longer produces a hot cell")
    val e = intercept[IllegalArgumentException] {
      VectorOps.knnGraphStored(spark, store, asOfBatch = 0L).collect()
    }
    assert(e.getMessage.contains("horizon"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      VectorOps.appendKnnGraph(spark,
        VectorOps.normalizedEmbeddings(spark, dir).limit(4), 1L, store)
    }
    assert(e2.getMessage.contains("horizon"), e2.getMessage)
    // at/above the horizon: ingest history on top of the current cell
    // structure — a fresh batch lands, and the horizon snapshot
    // excludes it
    val atH = rows(VectorOps.knnGraphStored(spark, store, asOfBatch = 1L))
    VectorOps.appendKnnGraph(spark,
      VectorOps.normalizedEmbeddings(spark, dir).limit(4)
        .select(($"vec_id" + 300000L).as("vec_id"), $"v"), 2L, store)
    assert(rows(VectorOps.knnGraphStored(spark, store, asOfBatch = 1L))
      == atH, "a later append leaked into an earlier snapshot")
    assert(rows(VectorOps.knnGraphStored(spark, store))
      .exists(_._1 >= 300000L))
  }

  test("incremental walk corpus: two graph batches re-walk only the " +
    "invalidated walks, stored corpus identical to one-shot, " +
    "untouched partitions never rewrite, replay idempotent") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-walks").toString
    val store = new ParquetStore(s"$tmp/knn")
    VectorOps.persistAnnBooks(spark, dir, store)
    val n = VectorOps.normalizedEmbeddings(spark, dir).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSeq
    VectorOps.appendKnnGraph(spark, n.filter($"vec_id" % 2 === 0), 0L, store)
    VectorOps.appendWalkCorpus(spark, store, 0L)
    assert(rows(VectorOps.walkCorpusStored(spark, store)) ==
      rows(VectorOps.walkCorpusOneShot(spark, store)),
      "batch-0 corpus diverged from one-shot")
    VectorOps.appendKnnGraph(spark, n.filter($"vec_id" % 2 === 1), 1L, store)
    VectorOps.appendWalkCorpus(spark, store, 1L)
    val twoBatch = rows(VectorOps.walkCorpusStored(spark, store))
    assert(twoBatch == rows(VectorOps.walkCorpusOneShot(spark, store)),
      "incremental corpus diverged from one-shot over the final graph")
    assert(twoBatch.nonEmpty)
    // incremental economy: a batch whose touched cells no stored walk
    // visits must rewrite NOTHING (mtimes byte-stable). Probe = a copy
    // of an existing member of an unvisited cell (deterministic
    // assignment sends it to the same cell).
    val visited = store.read("walk_corpus", spark)
      .select($"cell".cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val unvisited = store.read("knn_vectors", spark)
      .select($"cell".cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet -- visited
    assert(unvisited.nonEmpty,
      s"fixture: walks visited every cell ($visited)")
    val uc = unvisited.min
    def corpusFiles = Files.walk(
        java.nio.file.Paths.get(s"$tmp/knn/walk_corpus"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).sorted
      .toSeq.map(f => f -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(f)))
    val stamp = corpusFiles
    val probe = store.read("knn_vectors", spark)
      .filter($"cell" === uc).limit(1)
      .select(($"vec_id" + 500000L).as("vec_id"), $"v")
      .localCheckpoint(true)
    VectorOps.appendKnnGraph(spark, probe, 2L, store)
    VectorOps.appendWalkCorpus(spark, store, 2L)
    assert(corpusFiles == stamp,
      "a batch outside every walked cell rewrote the walk corpus")
    // replay idempotency: re-running the last maintenance pass leaves
    // the corpus identical (the sliver recomputes to the same bytes)
    val before = rows(VectorOps.walkCorpusStored(spark, store))
    VectorOps.appendWalkCorpus(spark, store, 1L)
    assert(rows(VectorOps.walkCorpusStored(spark, store)) == before)
    // a SKIPPED maintenance pass cannot leave the corpus stale: two
    // graph batches land, then ONE walk pass — the watermark makes it
    // cover both (a crash between graph append and re-walk, or a
    // caller batching ingests, must not silently diverge)
    VectorOps.appendKnnGraph(spark, n.filter($"vec_id" % 3 === 0)
      .select(($"vec_id" + 700000L).as("vec_id"), $"v"), 3L, store)
    VectorOps.appendKnnGraph(spark, n.filter($"vec_id" % 3 === 1)
      .select(($"vec_id" + 800000L).as("vec_id"), $"v"), 4L, store)
    VectorOps.appendWalkCorpus(spark, store, 4L)
    assert(rows(VectorOps.walkCorpusStored(spark, store)) ==
      rows(VectorOps.walkCorpusOneShot(spark, store)),
      "a skipped maintenance pass left the corpus stale")
    // cell rebalance relabels the cells the corpus's invalidation
    // logic is keyed on — the verb tears the corpus down (nothing in
    // the batch watermark can express a layout change), and the next
    // maintenance pass rebuilds from scratch, identical to one-shot
    // over the rebalanced graph
    val counts = store.read("knn_vectors", spark)
      .groupBy($"cell").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val cap = (counts.values.max + counts.values.sum / counts.size) / 2
    assert(VectorOps.rebalanceKnnCells(spark, store, cap.toInt) > 0,
      "fixture no longer produces a hot cell")
    assert(!Files.exists(
      java.nio.file.Paths.get(s"$tmp/knn/walk_corpus")),
      "rebalance left a stale walk corpus behind")
    VectorOps.appendWalkCorpus(spark, store, 4L)
    assert(rows(VectorOps.walkCorpusStored(spark, store)) ==
      rows(VectorOps.walkCorpusOneShot(spark, store)),
      "post-rebalance rebuild diverged from one-shot")
    n.unpersist()
  }

  test("persisted embeddings: trained vectors match a from-scratch " +
    "train over the maintained corpus; serving refuses stale vectors " +
    "loudly and retrain restores freshness") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-emb-store").toString
    val store = new ParquetStore(s"$tmp/emb")
    VectorOps.persistAnnBooks(spark, dir, store)
    val n = VectorOps.normalizedEmbeddings(spark, dir).cache()
    // no corpus yet: training refuses
    val e0 = intercept[IllegalArgumentException] {
      VectorOps.trainStoredEmbeddings(spark, store)
    }
    assert(e0.getMessage.contains("appendWalkCorpus"), e0.getMessage)
    VectorOps.appendKnnGraph(spark, n.filter($"vec_id" % 2 === 0), 0L, store)
    VectorOps.appendWalkCorpus(spark, store, 0L)
    VectorOps.trainStoredEmbeddings(spark, store)
    // stored layout is melted (trained_at, node, dim, w); compare the
    // LATEST version against a melted from-scratch train
    def vecs() = {
      val e = store.read("node_embeddings", spark)
        .select($"trained_at".cast("long").as("t"), $"node",
          $"dim".cast("long").as("dim"), $"w")
      val top = e.agg(max($"t")).first().getLong(0)
      e.filter($"t" === top).select($"node", $"dim", $"w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    def melt(df: org.apache.spark.sql.DataFrame) =
      df.collect().flatMap(r => Seq((r.getLong(0), 1L, r.getLong(1)),
        (r.getLong(0), 2L, r.getLong(2)))).toSet
    val fresh = melt(VectorOps.trainNodeEmbeddings(spark,
      VectorOps.skipGramPairsOver(
        VectorOps.walkCorpusStored(spark, store))))
    assert(vecs() == fresh && fresh.nonEmpty,
      "stored vectors diverged from a from-scratch train")
    def serve() = VectorOps.embedNeighborsStored(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val served = serve()
    assert(served.nonEmpty && served.forall(t => t._4 >= 1 && t._4 <= 5))
    // the corpus moves underneath: serving refuses rather than
    // silently answering from a stale model
    VectorOps.appendKnnGraph(spark, n.filter($"vec_id" % 2 === 1), 1L, store)
    VectorOps.appendWalkCorpus(spark, store, 1L)
    val e1 = intercept[IllegalArgumentException] { serve() }
    assert(e1.getMessage.contains("retrain"), e1.getMessage)
    // the opt-in serves the OLD vectors' answers unchanged
    assert(VectorOps.embedNeighborsStored(spark, store,
      allowStale = true).collect().nonEmpty)
    // retrain over the maintained corpus = fresh train over the
    // maintained corpus (which is itself one-shot-identical)
    VectorOps.trainStoredEmbeddings(spark, store)
    val fresh2 = melt(VectorOps.trainNodeEmbeddings(spark,
      VectorOps.skipGramPairsOver(
        VectorOps.walkCorpusOneShot(spark, store))))
    assert(vecs() == fresh2, "retrain diverged from one-shot")
    assert(serve().nonEmpty)
    // THE MODEL IS VERSIONED: the retrain landed a new trained_at
    // partition and left the old one readable — an as-of stored read
    // (model version AND graph cut at its training watermark)
    // reproduces the pre-retrain answers exactly, in_graph included
    assert(store.read("node_embeddings", spark)
      .select($"trained_at".cast("long")).distinct().collect()
      .map(_.getLong(0)).toSet == Set(0L, 1L),
      "retrain did not version the model artifact")
    assert(VectorOps.embedNeighborsStored(spark, store,
        asOfTrainedAt = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq == served,
      "as-of stored serve diverged from the pre-retrain answers")
    // an as-of below every version refuses loudly
    val eNo = intercept[IllegalArgumentException] {
      VectorOps.embedNeighborsStored(spark, store,
        asOfTrainedAt = -1L)
    }
    assert(eNo.getMessage.contains("no stored embedding version"),
      eNo.getMessage)
    // VERSION DRIFT is the roll-forward decision artifact: self-drift
    // is exactly 1.0 (ppm) per query, and cross-version drift is a
    // well-formed set comparison whose overlap can be recomputed from
    // the two as-of serves it summarizes
    val selfDrift = VectorOps.embedVersionDrift(spark, store, 0L, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(selfDrift.nonEmpty && selfDrift.forall(t =>
      t._2 == t._3 && t._3 == t._4 && t._5 == 1000000L),
      s"self-drift not identity: ${selfDrift.mkString(",")}")
    val drift = VectorOps.embedVersionDrift(spark, store, 0L, 1L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def nbrs(ver: Long) = VectorOps.embedNeighborsStored(spark, store,
        asOfTrainedAt = ver, allowStale = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (va, vb) = (nbrs(0L), nbrs(1L))
    drift.foreach { case (qid, (nA, nB, ov, j6)) =>
      val (sa, sb) = (va.getOrElse(qid, Set.empty),
        vb.getOrElse(qid, Set.empty))
      assert(nA == sa.size && nB == sb.size && ov == (sa & sb).size,
        s"qid $qid drift row ($nA,$nB,$ov) != recomputed " +
          s"(${sa.size},${sb.size},${(sa & sb).size})")
      assert(j6 == (if ((sa | sb).isEmpty) 1000000L
        else (sa & sb).size.toLong * 1000000L / (sa | sb).size),
        s"qid $qid jaccard6 $j6 wrong")
    }
    // a rebalance tears the walk corpus (and its watermark) down:
    // the trained vectors are UNANCHORED, not merely behind — serving
    // refuses with the teardown message, not the advance message
    val counts = store.read("knn_vectors", spark)
      .groupBy($"cell").count().collect()
      .map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val cap = (counts.values.max + counts.values.sum / counts.size) / 2
    assert(VectorOps.rebalanceKnnCells(spark, store, cap.toInt) > 0)
    val e2 = intercept[IllegalArgumentException] { serve() }
    assert(e2.getMessage.contains("torn down"), e2.getMessage)
    assert(VectorOps.embedNeighborsStored(spark, store,
      allowStale = true).collect().nonEmpty)
    n.unpersist()
  }

  test("a d=4 trained model serves end-to-end through the melted " +
    "layout (the serving dot is d-agnostic)") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val tmp = Files.createTempDirectory("graft-emb-d4").toString
    val store = new ParquetStore(s"$tmp/emb")
    VectorOps.persistAnnBooks(spark, dir, store)
    val nAll = VectorOps.normalizedEmbeddings(spark, dir).cache()
    VectorOps.appendKnnGraph(spark,
      nAll.filter($"vec_id" % 2 === 0), 0L, store)
    VectorOps.appendWalkCorpus(spark, store, 0L)
    VectorOps.trainStoredEmbeddings(spark, store, dims = 4)
    assert(store.read("node_embeddings", spark)
      .agg(max($"dim".cast("long"))).first().getLong(0) == 4L,
      "melted layout did not carry all four dims")
    val served = VectorOps.embedNeighborsStored(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(served.nonEmpty && served.forall(t => t._4 >= 1 && t._4 <= 5))
    // the d=4 dot genuinely uses the extra dims: recompute one served
    // dot from the stored vectors and match it
    val e = store.read("node_embeddings", spark)
      .select($"node", $"dim".cast("long").as("dim"), $"w")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val (qid, nid, dot, _, _) = served.head
    val manual = (1L to 4L).map(j => e((qid, j)) * e((nid, j))).sum
    assert(dot == manual, s"served dot $dot != manual $manual")
    // A DIFFERENT WIDTH AT THE SAME WATERMARK refuses loudly: the
    // dynamic-partition overwrite would silently replace the d=4
    // model under its own version stamp (a geometry change wearing
    // replay's clothes — persistAnnBooks' same-version rule)
    val eGeom = intercept[IllegalArgumentException] {
      VectorOps.trainStoredEmbeddings(spark, store, dims = 2)
    }
    assert(eGeom.getMessage.contains("geometry change"),
      eGeom.getMessage)
    // the refused train left the stored model untouched
    assert(store.read("node_embeddings", spark)
      .agg(max($"dim".cast("long"))).first().getLong(0) == 4L,
      "a refused geometry change still mutated the stored model")
    // a SAME-geometry re-train replays fine (deterministic trainer,
    // idempotent overwrite) and serves the same answers
    VectorOps.trainStoredEmbeddings(spark, store, dims = 4)
    assert(VectorOps.embedNeighborsStored(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq == served,
      "same-geometry replay changed the served answers")
    // after the corpus advances, the new width lands as a NEW version
    // and the d=4 answers stay reproducible as-of its watermark
    VectorOps.appendKnnGraph(spark,
      nAll.filter($"vec_id" % 2 === 1), 1L, store)
    VectorOps.appendWalkCorpus(spark, store, 1L)
    VectorOps.trainStoredEmbeddings(spark, store, dims = 2)
    assert(VectorOps.embedNeighborsStored(spark, store,
        asOfTrainedAt = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq == served,
      "as-of serve of the d=4 version diverged after the d=2 retrain")
    nAll.unpersist()
  }

}
