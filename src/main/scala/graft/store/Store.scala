package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Keyed entity storage (SURVEY.md §2.1 S6–S13). The reference stores one
  * gzipped JSON array per chip/tile key on S3 and deletes-before-writes
  * for idempotent re-runs (ref: blackmagic/data/ceph.py:250-333,338-351).
  *
  * Spark-first mapping ([[ParquetStore]]): partitioned parquet, where
  * (cx, cy) partition columns give the same key-addressed reads that the
  * reference's key scheme hand-implements. `write` replaces the keys its
  * frame carries by dynamic partition overwrite (S12); `writeKeyed`
  * stages one key's new rows under `entity/_staging/<id>`, which readers
  * never list, and then swaps them in by deleting the key's directory
  * and renaming the stage into its place. Readers see the old rows for
  * the whole write job. The swap is not atomic: between its delete and
  * its rename the key reads as a GET miss (zero rows), and a writer that
  * dies there leaves the key absent, with its new rows under
  * `_staging/`, until the request is re-run — the same recovery the
  * reference's delete-before-write relies on.
  *
  * At 100 TB: one partition per chip key ≈ the reference's object layout;
  * writers `repartition(keys)` first so each task writes exactly one
  * partition file instead of shuffling small files across tasks.
  */
trait Store extends Serializable {
  def write(entity: String, df: DataFrame, keys: Seq[String]): Unit
  def read(entity: String, spark: SparkSession): DataFrame

  /** Key-addressed point read — the reference's O(1) GET
    * (ref: blackmagic/data/ceph.py:125-129,338-351: one object per
    * key, listing never scales with the store). Base semantics:
    * `read` + equality filters, correct for every impl; ParquetStore
    * overrides it to resolve the key DIRECTLY to its partition
    * directory, so per-request cost is O(one partition listing)
    * instead of O(store) — the difference between a flat and a
    * super-linear serving path at tile scale (a 2,500-chip tile is
    * 2,500 keyed reads; each must not re-list 2,500 partitions). */
  def readKeyed(entity: String, keyValues: Seq[(String, Any)],
      spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    keyValues.foldLeft(read(entity, spark)) { case (df, (k, v)) =>
      df.filter(col(k) === lit(v)) }
  }

  /** S12 explicit keyed delete (ref: blackmagic/data/__init__.py:57-70
    * delete_tile/chip/pixels/segments/predictions): drop ONE key
    * partition, leave every other key untouched, succeed when the key
    * (or the whole entity) is absent — the idempotency the reference's
    * delete-before-write rests on. */
  def delete(entity: String, keyValues: Seq[(String, Any)]): Unit

  /** Keyed overwrite of EXACTLY ONE key partition — the write-side
    * twin of [[readKeyed]] (the reference's per-key PUT,
    * ceph.py:250-333: delete the key's objects, insert the new set).
    * PRECONDITION: every row of `df` carries exactly `keyValues` in
    * its key columns (the caller's request IS the key — JobQueue's
    * per-chip pipelines). Afterwards the key partition holds exactly
    * `df`'s rows; every other key is untouched.
    *
    * Base implementation delegates to [[write]] (dynamic keyed
    * overwrite — identical observable state under the precondition).
    * ParquetStore overrides it with a staged single-partition commit:
    * one plain Spark job writes the key's file under `_staging/<id>`,
    * then the driver deletes the key's directory and renames the stage
    * into it (see the trait doc for the window in between). A per-chip
    * write then pays ONE task and one directory rename instead of a
    * shuffle exchange, the write command and its committer — the
    * difference between O(1) and O(cores + staging listing) per request
    * when a tile dispatches thousands of them (guide §5: keep the
    * driver out of the per-request path). */
  def writeKeyed(entity: String, df: DataFrame, keys: Seq[String],
      keyValues: Seq[(String, Any)]): Unit =
    write(entity, df, keys)
}

/** Hive-style partitioned parquet under `root/entity`: the key IS a
  * directory (`entity/cx=1/cy=10`), so keyed delete is one filesystem
  * remove — no scan, no rewrite, the same O(1)-per-key economy as the
  * reference's object-store delete at any scale — and a keyed read lists
  * only that directory.
  *
  * Keyed writes stage under `root/entity/_staging/<id>` (see
  * writeKeyed); a stage a crash leaves behind is never read.
  *
  * The key-order memo, the file-schema memo and the write generation
  * that guards it (companion object) are JVM-global, keyed by root and
  * entity, and only this JVM's writes invalidate them. One writer per
  * store root is therefore assumed: a second driver rewriting the same
  * root could leave this one replaying a stale schema or key order, and
  * two writers of one key could interleave their swaps.
  */
final class ParquetStore(root: String) extends Store {
  import ParquetStore.{generation, orderCache, schemaCache}
  import org.apache.spark.sql.functions.{col, lit}

  // one Hadoop conf per store, the active session's: parsing the Hadoop
  // default resources for a fresh conf costs more than the local
  // filesystem call it serves
  @transient private lazy val conf: Configuration =
    org.apache.spark.sql.graftbridge.ParquetFiles
      .hadoopConf(SparkSession.active)

  override def write(entity: String, df: DataFrame, keys: Seq[String]): Unit = {
    invalidate(entity)
    df.repartition(keys.map(col): _*)
      .write
      .partitionBy(keys: _*)
      .option("partitionOverwriteMode", "dynamic") // S12: overwrite == delete+insert
      .mode("overwrite")
      .parquet(s"$root/$entity")
    invalidate(entity)
  }

  override def read(entity: String, spark: SparkSession): DataFrame =
    spark.read.parquet(s"$root/$entity")

  /** Resolve the key to its partition directory and list ONLY that —
    * one directory listing per request regardless of how many keys the
    * entity holds (the reference's per-key GET, ceph.py:125-129).
    * `basePath` keeps the partition columns in the result.
    *
    * Schema stability: partition-column TYPES are inferred from the
    * directory names a read can see, so a single-partition listing
    * could infer differently than the full listing (ts=3 alone reads
    * int; alongside ts=5e9 it reads long). Both the hit and the miss
    * path therefore cast each key column to the CALLER's key-value
    * type — a keyed read's schema is deterministic in the call, never
    * in which partitions happen to exist. A key whose directory holds
    * no data (absent, or a crashed commit's leftovers) falls back to
    * the filtered full read: same zero rows (or the same entity-absent
    * error) as the unkeyed path. */
  override def readKeyed(entity: String, keyValues: Seq[(String, Any)],
      spark: SparkSession): DataFrame = {
    def dtOf(v: Any): Option[String] = v match {
      case _: Long | _: java.lang.Long => Some("bigint")
      case _: Int | _: java.lang.Integer => Some("int")
      case _: Short | _: java.lang.Short => Some("smallint")
      case _: String => Some("string")
      case _: Double | _: java.lang.Double => Some("double")
      case _: Boolean | _: java.lang.Boolean => Some("boolean")
      case _ => None // unknown key type: leave the inferred column
    }
    def keyTyped(df: DataFrame): DataFrame =
      keyValues.foldLeft(df) { case (d, (k, v)) =>
        dtOf(v).fold(d)(t => d.withColumn(k, col(k).cast(t))) }
    val p = partPath(entity, keyValues)
    val hit = holdsData(p)
    // schema memo (see schemaCache): the first keyed read infers and
    // remembers, every later one skips the per-request footer read.
    // Only the FILE schema is memoized — the key/partition columns are
    // stripped before the put, so directory discovery still resolves
    // partition-column types per read (a memoized ts=3 int must not
    // cast-corrupt a later ts=5000000000 partition before keyTyped can
    // pin it) and keyTyped() then casts them to the caller's key types
    // exactly as the inference path does.
    // HIT path only: the miss fallback reads the whole entity without
    // a schema, so a degenerate/emptied entity directory raises the
    // same entity-absent error as the unkeyed read (a memoized schema
    // would silently turn that into an empty frame).
    val ck = s"$root/$entity"
    val gen0 = genOf(ck)
    val memo = if (hit) Option(schemaCache.get(ck)) else None
    val df =
      if (hit) {
        val r = spark.read
        memo.fold(r)(r.schema).option("basePath", ck).parquet(p.toString)
      } else
        keyValues.foldLeft(read(entity, spark)) {
          case (d, (k, v)) => d.filter(col(k) === lit(v)) }
    if (hit && memo.isEmpty && genOf(ck) == gen0) {
      val keyNames = keyValues.map(_._1).toSet
      schemaCache.put(ck, StructType(
        df.schema.fields.filterNot(f => keyNames.contains(f.name))))
    }
    keyTyped(df)
  }

  /** Staged single-partition keyed overwrite ([[Store.writeKeyed]]'s
    * contract). `df`'s rows (minus the key columns — they live in the
    * path, exactly where partitionBy puts them) are staged as ONE
    * parquet file under `entity/_staging/<id>/` by one plain Spark job
    * (Spark's own parquet writer, no write command or committer:
    * [[org.apache.spark.sql.graftbridge.ParquetFiles.write]]). Only
    * after that job succeeds does the driver swap the stage in: delete
    * the key's directory, rename `_staging/<id>` into its place. Partition
    * discovery skips `_`-prefixed directories, so readers see the old
    * rows for the whole write job; a failed job removes its stage and
    * leaves the old rows. The window left is between the delete and
    * the rename: a reader there sees a GET miss, and a crash there
    * leaves the key absent with its new rows under `_staging/`. No rows
    * leaves the key absent. Key order honors an existing layout
    * (orderedKeys); a fresh entity lands in the caller's `keys` order,
    * matching write(). */
  override def writeKeyed(entity: String, df: DataFrame,
      keys: Seq[String], keyValues: Seq[(String, Any)]): Unit = {
    require(keys.toSet == keyValues.map(_._1).toSet,
      s"writeKeyed keys $keys must match keyValues ${keyValues.map(_._1)}")
    invalidate(entity)
    val kv = keyValues.toMap
    val p = partPath(entity, keys.map(k => k -> kv(k)))
    val stage =
      new Path(s"$root/$entity/_staging/${java.util.UUID.randomUUID}")
    val fs = p.getFileSystem(conf)
    try {
      val rows = org.apache.spark.sql.graftbridge.ParquetFiles
        .write(df.drop(keys: _*).coalesce(1), stage)
      // the swap: drop the old rows (S12, idempotent), rename the new in
      fs.delete(p, true)
      if (rows > 0) {
        fs.mkdirs(p.getParent)
        if (!fs.rename(stage, p))
          throw new java.io.IOException(s"rename $stage -> $p failed")
      }
    } finally fs.delete(stage, true) // a no-op once renamed
    // post-write invalidate: a concurrent read that overlapped this
    // write must not leave a pre-write schema/order memo behind
    invalidate(entity)
  }

  override def delete(entity: String,
      keyValues: Seq[(String, Any)]): Unit = {
    val p = partPath(entity, keyValues)
    p.getFileSystem(conf).delete(p, true)
    () // delete returns false when absent — idempotent by contract
  }

  private def genOf(ck: String): Long =
    Option(generation.get(ck)).map(_.longValue).getOrElse(0L)

  /** Writers call this around (re)writes of an entity — BEFORE the
    * write (the layout/schema are about to change) and AFTER it lands
    * (so a read that overlapped the write cannot have repopulated the
    * memo from the old files): a rewrite may change the partition-key
    * order (and the file schema), so both are re-learned on the next
    * keyed access. */
  private def invalidate(entity: String): Unit = {
    val ck = s"$root/$entity"
    generation.merge(ck, 1L,
      (a: java.lang.Long, b: java.lang.Long) => a + b)
    orderCache.remove(ck)
    schemaCache.remove(ck)
  }

  /** Key values reordered to the on-disk partition-key order. The order
    * is discovered from the layout (the `k=` level names), not trusted
    * from the caller: a caller passing `Seq(cy -> .., cx -> ..)` against
    * a `cx/cy` layout must address the same partition, not silently
    * no-op on a nonexistent path. Falls back to the caller's order when
    * the entity is absent or unpartitioned. */
  private def orderedKeys(entity: String,
      keyValues: Seq[(String, Any)]): Seq[(String, Any)] = {
    val base = new Path(s"$root/$entity")
    val fs = base.getFileSystem(conf)
    val kv = keyValues.toMap
    // find a COMPLETE depth-|keys| partition chain to learn the key
    // order — a single-path walk can dead-end in an empty parent dir a
    // prior delete left behind and silently fall back to the wrong
    // order; searching siblings makes discovery robust to that litter.
    // NonFatal (not just IOException): a filesystem throwing
    // RuntimeException during the discovery WALK must degrade to
    // caller order, not escape a delete() that never listed
    // directories before.
    def chainOrder(dir: Path, remaining: Int): Option[List[String]] =
      if (remaining == 0) Some(Nil)
      else {
        val kids = try fs.listStatus(dir).toList.filter(st =>
          st.isDirectory && st.getPath.getName.contains('='))
        catch { case scala.util.control.NonFatal(_) => Nil }
        kids.iterator.flatMap { st =>
          chainOrder(st.getPath, remaining - 1)
            .map(st.getPath.getName.takeWhile(_ != '=') :: _)
        }.nextOption()
      }
    val ck = s"$root/$entity"
    val cached = Option(orderCache.get(ck)).filter(_.toSet == kv.keySet)
    cached.map(_.map(k => k -> kv(k))).getOrElse {
      chainOrder(base, kv.size) match {
        case Some(o) if kv.keySet == o.toSet =>
          orderCache.put(ck, o)
          o.map(k => k -> kv(k))
        case _ => keyValues
      }
    }
  }

  /** The key's partition directory, in layout order. Key VALUES go
    * through Spark's own partition-path escaping
    * (ExternalCatalogUtils.escapePathName — '/', '=', '%', ':',
    * spaces, …), so the path built here is byte-identical to the
    * directory Spark's partitioned writers actually created: without
    * it a String key containing such a character would make readKeyed
    * silently fall back to the full-scan path (losing the O(1)
    * contract) and delete no-op on a nonexistent path (breaking
    * delete-before-write idempotency). Numeric keys are unaffected. */
  private def partPath(entity: String,
      keyValues: Seq[(String, Any)]): Path = {
    val part = orderedKeys(entity, keyValues)
      .map { case (k, v) =>
        s"$k=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(String.valueOf(v))}" }
      .mkString("/")
    new Path(s"$root/$entity/$part")
  }

  /** Whether a key directory holds data: an entry whose name starts
    * with neither `_` nor `.` (the names Spark's file listing skips).
    * An absent directory, bare commit markers, `.crc` sidecars, or a
    * crashed commit's `_temporary/` tree alone hold none, so such a key
    * reads as a GET miss instead of failing schema inference. One
    * listing — the single filesystem call an `exists` test would cost.
    * Any listing failure other than absence propagates. */
  private def holdsData(dir: Path): Boolean = {
    val fs = dir.getFileSystem(conf)
    try fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    } catch { case _: java.io.FileNotFoundException => false }
  }
}

private object ParquetStore {

  // discovered key order per (root, entity): the layout is fixed at
  // write time, so one successful directory walk serves every later
  // keyed call — keeping keyed delete O(1) after the first call instead
  // of a sibling-directory search per call
  private val orderCache =
    new java.util.concurrent.ConcurrentHashMap[String, List[String]]()

  // per-(root, entity) FILE schema memo for keyed reads: a tile of
  // prediction requests is thousands of keyed point reads against one
  // unchanging entity, and each un-memoized read re-infers the schema
  // (a driver-side footer read + file listing per REQUEST — pure
  // driver work that serializes the job queue's worker pool; guide
  // §5). One inference per entity serves every later keyed read; any
  // write through the store invalidates. Parquet footers agree across
  // partitions, so one partition's file schema serves them all.
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  // per-(root, entity) write generation: a keyed read that was IN
  // FLIGHT while a rewrite ran must never (re)populate schemaCache
  // with the pre-rewrite schema — writers bump the generation before
  // AND after the write, and a read only memoizes when the generation
  // it started under is still current. Without this, a mid-rewrite
  // read could repopulate the cache right after the writer's
  // invalidate and every later keyed read would replay the stale
  // schema (silently dropping columns the rewrite added).
  private val generation =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
}
