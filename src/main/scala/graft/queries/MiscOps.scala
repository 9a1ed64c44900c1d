package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.StringToColumn
import graft.functions.DateExprs

/** Remaining SURVEY §2 inventory entries: L2 seeded permutation, U2
  * multi-stack union, C6 hex codec, F4 sentinel routing, P2 ordered
  * feature assembly, S6/S12 keyed-sink roundtrip with partition-pruned
  * read-back, and the multimodal binary-column surface (x12).
  */
object MiscOps {

  val qs: Map[String, Q] = Map(
    // ----- L2 randomize: seeded deterministic permutation. The engine
    // path for training is orderBy(rand(seed)) (a distributed sort);
    // this oracle-checkable twin permutes by a keyed md5 — same shape,
    // verifiable bit-for-bit in DuckDB.
    "l2_randomize" -> Q(
      """SELECT o_orderkey, CAST(row_number() OVER (
        |  ORDER BY md5('s42_' || o_orderkey), o_orderkey) AS BIGINT) AS pos
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables(s, dir, "orders")
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(md5(concat(lit("s42_"), $"o_orderkey")), $"o_orderkey"))
          .cast("long"))
        .select($"o_orderkey", $"pos")
        .orderBy($"o_orderkey")
    },

    // ----- U2 multi-tile stack: union of per-source slices (the
    // prototype's 3x3 neighboring-tile vstack, xg-train-annualized.py)
    "u2_stack" -> Q(
      """SELECT source, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars FROM documents WHERE source = 'src0'
        |  UNION ALL
        |  SELECT source, doc_id, n_chars FROM documents WHERE source = 'src1'
        |  UNION ALL
        |  SELECT source, doc_id, n_chars FROM documents WHERE source = 'src2')
        |ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents").select($"source", $"doc_id", $"n_chars")
      Seq("src0", "src1", "src2")
        .map(src => d.filter($"source" === src))
        .reduce(_ unionByName _)
        .orderBy($"source", $"doc_id")
    },

    // ----- C6 hex encode/decode roundtrip (the reference's model-bytes
    // codec, blackmagic/blueprints/tile.py:347)
    "c6_hex" -> Q(
      """SELECT doc_id, hex(encode(source)) AS hx,
        |  CAST(decode(from_hex(hex(encode(source)))) = source AS INT)
        |    AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val hx = hex(encode($"source", "utf-8"))
      Tables(s, dir, "documents")
        .select($"doc_id", hx.as("hx"),
          (decode(unhex(hx), "utf-8") === $"source").cast("int")
            .as("roundtrip_ok"))
        .orderBy($"doc_id")
    },

    // ----- F4 default-segment sentinel routing: the 0001-01-01 rows
    // must survive parquet + both engines' date handling (SURVEY §7.4.4).
    // min/max days ship as ISO strings: year-1 dates overflow pandas'
    // datetime64[ns] in the comparator, so a DATE column here hash-
    // mismatches even when the values are identical (round-1 lesson).
    "f4_sentinel" -> Q(
      """WITH t AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN DATE '0001-01-01'
        |       ELSE CAST(o_orderdate AS DATE) END AS sday
        |  FROM orders)
        |SELECT CAST(sday = DATE '0001-01-01' AS INT) AS is_default,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(sday) AS VARCHAR) AS min_day,
        |  CAST(max(sday) AS VARCHAR) AS max_day
        |FROM t GROUP BY 1 ORDER BY is_default""".stripMargin) { (s, dir) =>
      val sday = when($"o_orderkey" % 7 === 0, lit("0001-01-01").cast("date"))
        .otherwise(to_date($"o_orderdate"))
      Tables(s, dir, "orders")
        .select($"o_orderkey", sday.as("sday"))
        .groupBy(DateExprs.isDefaultSegment($"sday", $"sday").cast("int")
          .as("is_default"))
        .agg(count(lit(1)).as("n"),
          date_format(min($"sday"), "yyyy-MM-dd").as("min_day"),
          date_format(max($"sday"), "yyyy-MM-dd").as("max_day"))
        .orderBy($"is_default")
    },

    // ----- P2 ordered feature assembly: column order is the model
    // contract (SURVEY §7.4.2); integer-encoded so the string form is
    // engine-exact
    "p2_assembly" -> Q(
      """SELECT p_partkey, array_to_string([
        |    CAST(p_size AS BIGINT),
        |    CAST(round(p_retailprice * 100) AS BIGINT),
        |    CAST(length(p_name) AS BIGINT)], ',') AS features
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      Tables(s, dir, "part")
        .select($"p_partkey", concat_ws(",",
          $"p_size".cast("long"),
          round($"p_retailprice" * 100).cast("long"),
          length($"p_name").cast("long")).as("features"))
        .orderBy($"p_partkey")
    },

    // ----- S6+S12 keyed sink roundtrip: partitioned overwrite write,
    // then a partition-pruned read-back (the reference's key-addressed
    // object layout, ceph.py:338-351)
    "s6_sink_roundtrip" -> Q(
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val out = System.getProperty("java.io.tmpdir") +
        s"/graft_s6_${math.abs(dir.hashCode)}"
      Tables(s, dir, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      // read-back hits only the two lang partitions (partition pruning)
      s.read.parquet(out)
        .filter($"lang".isin("en", "de"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
        .orderBy($"lang")
    },

    // ----- F5 coverage predicate: model covers [begin, end]
    // (references/xg-classify-annualized.py:150-151)
    "f5_coverage" -> Q(
      """WITH seg AS (SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS sday,
        |  CAST(o_orderdate AS DATE) + 90 AS eday FROM orders)
        |SELECT o_orderkey, sday, eday FROM seg
        |WHERE sday <= DATE '1996-06-01' AND eday >= DATE '1996-06-15'
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val sday = to_date($"o_orderdate")
      Tables(s, dir, "orders")
        .select($"o_orderkey", sday.as("sday"),
          date_add(sday, 90).as("eday"))
        .filter($"sday" <= lit("1996-06-01").cast("date") &&
          $"eday" >= lit("1996-06-15").cast("date"))
        .orderBy($"o_orderkey")
    },

    // ----- C4 training-date stamp: constant date threaded into
    // downstream arithmetic (ref segaux.py:166-173)
    "c4_stamp" -> Q(
      """SELECT o_orderkey, DATE '1990-07-01' AS training_date,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1990-07-01')
        |    AS days_before
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val d = lit("1990-07-01").cast("date")
      Tables(s, dir, "orders")
        .select($"o_orderkey", d.as("training_date"),
          datediff(d, to_date($"o_orderdate")).as("days_before"))
        .orderBy($"o_orderkey")
    },

    // ----- C7 JSON codec: parse the events props JSON + re-serialize
    // a struct (the JSON half of the reference's gzip+JSON storage
    // codec, ceph.py:297-333; the store itself writes parquet)
    "c7_json" -> Q(
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  to_json(struct_pack(event_id := event_id,
        |    event_type := event_type)) AS js
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables(s, dir, "events")
        .select($"event_id",
          get_json_object($"props", "$.k").cast("long").as("k"),
          to_json(struct($"event_id", $"event_type")).as("js"))
        .orderBy($"event_id")
    },

    // ----- A6 salted aggregation: skew-proof two-stage sum/count over
    // a 3-value hot key — identical results to the direct aggregate
    "a6_salted_agg" -> Q(
      """SELECT l_returnflag, round(sum(l_extendedprice), 2) AS total,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
        graft.ops.Skew.saltedSumCount(
          Tables(s, dir, "lineitem")
            .select($"l_returnflag", $"l_extendedprice"),
          Seq("l_returnflag"), "l_extendedprice")
          .select($"l_returnflag", round($"sum_value", 2).as("total"),
            $"n_rows")
          .orderBy($"l_returnflag")
    },

    // ----- J4 salted skew join: the 3-value returnflag key is the
    // pathological case (every row lands on one of 3 reducers in a
    // plain shuffle join); Skew.saltedJoin spreads each hot key over 16
    // reducers. Weighted sums accumulate as exact integer cents so the
    // result is order-independent and engine-exact.
    "j4_salted_join" -> Q(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * w)
        |    AS DOUBLE) / 100, 2) AS weighted
        |FROM lineitem JOIN (VALUES ('A', 2), ('N', 3), ('R', 5))
        |  d(l_returnflag, w) USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val dim = s.createDataFrame(Seq(("A", 2), ("N", 3), ("R", 5)))
        .toDF("l_returnflag", "w")
      graft.ops.Skew.saltedJoin(
          Tables(s, dir, "lineitem")
            .select($"l_returnflag",
              round($"l_extendedprice" * 100).cast("long").as("cents")),
          dim, "l_returnflag")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          round((sum($"cents" * $"w")).cast("double") / 100, 2)
            .as("weighted"))
        .orderBy($"l_returnflag")
    },

    // ----- x12 multimodal binary columns: opaque payload + typed
    // metadata; "decode" here is the deterministic byte-level feature
    // stub (octet length, codepoint checksum, header hex) — the real
    // media plumbing lives in graft.ops.Multimodal
    "x12_multimodal" -> Q(
      """SELECT doc_id, lang AS media_kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(range(1, length(text) + 1),
        |    i -> ascii(substr(text, CAST(i AS INT), 1)))) AS BIGINT)
        |    AS checksum,
        |  substr(hex(encode(text)), 1, 8) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.spread(s, dir, "documents")
        .select($"doc_id", $"lang".as("media_kind"),
          octet_length($"text").cast("long").as("n_bytes"),
          expr("aggregate(sequence(1, length(text)), 0L, " +
            "(acc, i) -> acc + ascii(substr(text, i, 1)))").as("checksum"),
          substring(hex(encode($"text", "utf-8")), 1, 8).as("head_hex"))
        .orderBy($"doc_id")
    })
}
