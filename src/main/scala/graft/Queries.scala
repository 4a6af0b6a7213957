package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Hashing, OracleHash, Similarity}
import graft.operators.Blocking
import graft.pipeline.EntityResolution

/** The driver-facing operator catalog: one named query per implemented
  * operator family from SURVEY.md §2, each with a DuckDB oracle (same
  * parquet tables) where ANSI-SQL-expressible; engine-hash operators
  * (MinHash/SimHash/ER) are rows-only checks.
  *
  * Cross-engine hash-compare rules followed throughout:
  *  - every computed column aliased identically in Spark and SQL;
  *  - integer-like results cast to BIGINT on both sides;
  *  - money sums cast to DECIMAL(18,2) pre-aggregation (exact, order-free);
  *  - float results rounded AFTER identical per-row arithmetic, and sort
  *    keys use the rounded value so ordering can't diverge at 1e-16.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- q01
  /** A1/A2 grouped aggregation (SURVEY §2.6). */
  private val q01: Q = (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        sum("l_quantity").as("sum_qty"),
        // 4dp: price(2dp) * discount(2dp) is exact at 4 decimals, so the
        // double->decimal cast never lands on a rounding boundary (Spark
        // HALF_UP vs DuckDB half-even would disagree at 2dp)
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("revenue"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q01Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty,
      |sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS revenue
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** F1-F5 predicate pushdown + projection pruning (SURVEY §2.2). */
  private val q02: Q = (s, d) =>
    t(s, d, "lineitem")
      .filter(expr("l_shipdate >= timestamp'1995-06-01' AND l_shipdate < timestamp'1996-01-01' AND l_quantity < 25"))
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")

  private val q02Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      |AND l_quantity < 25 ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q03
  /** J2/J5 three-way equi join + aggregation (SURVEY §2.5). */
  private val q03: Q = (s, d) =>
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("revenue"))
      .orderBy("c_mktsegment")

  private val q03Sql =
    """SELECT c_mktsegment, count(*) AS cnt,
      |sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q04
  /** J1/J3/J4 star join with broadcast dimensions (SURVEY §2.5, §4). */
  private val q04: Q = (s, d) =>
    t(s, d, "supplier")
      .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("suppliers"))
      .orderBy("r_name", "n_name")

  private val q04Sql =
    """SELECT r_name, n_name, count(*) AS suppliers
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q05
  /** F6 semi join (entity-has-page gate, SURVEY §2.2). */
  private val q05: Q = (s, d) =>
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  private val q05Sql =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q06
  /** J9 anti join (frontier set-minus, SURVEY §2.5). */
  private val q06: Q = (s, d) =>
    t(s, d, "part")
      .join(t(s, d, "lineitem"), col("p_partkey") === col("l_partkey"), "left_anti")
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")

  private val q06Sql =
    """SELECT p_partkey, p_name FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q07
  /** A6/A7 distinct (SURVEY §2.6). */
  private val q07: Q = (s, d) =>
    t(s, d, "lineitem")
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  private val q07Sql =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q08
  /** A3 union of grouped counts re-aggregated (candidate prior shape). */
  private val q08: Q = (s, d) => {
    val orders = t(s, d, "orders")
    val a = orders.groupBy(col("o_orderpriority").as("k")).agg(count(lit(1)).as("cnt"))
    val b = orders.groupBy(col("o_orderstatus").as("k")).agg(count(lit(1)).as("cnt"))
    a.unionByName(b).groupBy("k")
      .agg(sum("cnt").cast("long").as("total"))
      .orderBy("k")
  }

  private val q08Sql =
    """SELECT k, CAST(sum(cnt) AS BIGINT) AS total FROM (
      |  SELECT o_orderpriority AS k, count(*) AS cnt FROM orders GROUP BY 1
      |  UNION ALL
      |  SELECT o_orderstatus AS k, count(*) AS cnt FROM orders GROUP BY 1
      |) GROUP BY k ORDER BY k""".stripMargin

  // ---------------------------------------------------------------- q09
  /** A4/O4 ranking window (first-seen labels / deterministic split). */
  private val q09: Q = (s, d) =>
    t(s, d, "orders")
      .withColumn("rnk",
        row_number().over(Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast("long"))
      .where(col("rnk") <= 3)
      .select("o_custkey", "o_orderkey", "rnk")
      .orderBy("o_custkey", "rnk")

  private val q09Sql =
    """SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk FROM (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |  FROM orders) WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin

  // ---------------------------------------------------------------- q10
  /** O1/O3 global top-k with deterministic tiebreak. */
  private val q10: Q = (s, d) =>
    t(s, d, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .limit(100)

  private val q10Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin

  // ---------------------------------------------------------------- q11
  /** Conditional aggregation over the events table. */
  private val q11: Q = (s, d) =>
    t(s, d, "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("cnt"),
        sum(when(col("value") > 50, 1L).otherwise(0L)).cast("long").as("big_cnt"))
      .orderBy("event_type")

  private val q11Sql =
    """SELECT event_type, count(*) AS cnt,
      |CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS big_cnt
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q12
  /** HAVING filter on grouped counts. */
  private val q12: Q = (s, d) =>
    t(s, d, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 5)
      .orderBy("o_custkey")

  private val q12Sql =
    """SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey
      |HAVING count(*) >= 5 ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q13
  /** J7 correlated scalar subquery (Catalyst decorrelates,
    * /root/reference/src/scripts/alter_table_entities.py:30). */
  private val q13: Q = (s, d) => {
    t(s, d, "customer").createOrReplaceTempView("graft_customer")
    t(s, d, "orders").createOrReplaceTempView("graft_orders")
    s.sql(
      """SELECT c_custkey,
        |  (SELECT count(*) FROM graft_orders o WHERE o.o_custkey = c.c_custkey) AS num_orders
        |FROM graft_customer c ORDER BY c_custkey""".stripMargin)
  }

  private val q13Sql =
    """SELECT c_custkey,
      |  (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS num_orders
      |FROM customer c ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q14
  /** S6/O3 keyed range scan (pagination analog). */
  private val q14: Q = (s, d) =>
    t(s, d, "orders")
      .where(col("o_orderkey").between(1000, 2000))
      .select("o_orderkey", "o_orderstatus")
      .orderBy("o_orderkey")

  private val q14Sql =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE o_orderkey BETWEEN 1000 AND 2000 ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q15
  /** P1 clean_page_content as pure Column algebra
    * (/root/reference/src/data_cleaners.py:5-14), md5-compared. */
  private val q15: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        md5(regexp_replace(
          regexp_replace(
            expr("replace(text, '<references />', '')"),
            lit("""\( *[,;.][^()]* *\)"""), lit("")),
          lit("""\( *[^()]*[,;] *\)"""), lit(""))).as("clean_md5"))
      .orderBy("doc_id")

  private val q15Sql =
    """SELECT doc_id, md5(regexp_replace(regexp_replace(
      |  replace(text, '<references />', ''),
      |  '\( *[,;.][^()]* *\)', '', 'g'),
      |  '\( *[^()]*[,;] *\)', '', 'g')) AS clean_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q16
  /** P7/P10/P11 title normalizations (upperFirst != initcap). */
  private val q16: Q = (s, d) =>
    t(s, d, "documents")
      .select("source").distinct()
      .select(
        col("source"),
        expr("concat(upper(substring(source, 1, 1)), substring(source, 2))").as("upper_first"),
        expr("concat(lower(substring(source, 1, 1)), substring(source, 2))").as("lower_first"),
        expr("replace(source, '_', ' ')").as("despaced"))
      .orderBy("source")

  private val q16Sql =
    """SELECT source,
      |  concat(upper(substring(source, 1, 1)), substring(source, 2)) AS upper_first,
      |  concat(lower(substring(source, 1, 1)), substring(source, 2)) AS lower_first,
      |  replace(source, '_', ' ') AS despaced
      |FROM (SELECT DISTINCT source FROM documents) ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q17
  /** P5 match_all occurrence counting via the non-overlapping replace
    * identity (/root/reference/src/utils.py:13-25). */
  private val q17: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        expr("CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT)").as("the_cnt"),
        expr("CAST((length(text) - length(replace(text, 'spark', ''))) / 5 AS BIGINT)").as("spark_cnt"))
      .orderBy("doc_id")

  private val q17Sql =
    """SELECT doc_id,
      |  CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT) AS the_cnt,
      |  CAST((length(text) - length(replace(text, 'spark', ''))) / 5 AS BIGINT) AS spark_cnt
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q18
  /** Token counting (whitespace tokens; training-data text analysis). */
  private val q18: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .orderBy("doc_id")

  private val q18Sql =
    """SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Quality scoring: char-class ratios (training-data text analysis). */
  private val q19: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_actual"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long").as("alpha_chars"),
        round(length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
          length(col("text")), 4).as("alpha_ratio"))
      .orderBy("doc_id")

  private val q19Sql =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars_actual,
      |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS alpha_chars,
      |  round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text), 4) AS alpha_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q20
  /** Language ID: 5-language stopword-profile scoring with deterministic
    * argmax (graft.functions.LanguageId — both engines' expressions are
    * GENERATED from the same profile table, so they cannot drift).
    * Multilingual discrimination is unit-tested in LanguageIdSpec; here the
    * oracle pins the scoring itself value-for-value. */
  private val q20: Q = (s, d) =>
    t(s, d, "documents")
      .selectExpr(("doc_id" +: graft.functions.LanguageId.sparkScoreExprs("text")): _*)
      .selectExpr("*", graft.functions.LanguageId.argmaxCase)
      .orderBy("doc_id")

  private lazy val q20Sql = {
    val scores = graft.functions.LanguageId.duckScoreExprs("text").mkString(",\n  ")
    s"""SELECT *, ${graft.functions.LanguageId.argmaxCase}
       |FROM (SELECT doc_id,
       |  $scores
       |FROM documents) ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q21
  /** Exact dedup via content hash + window-min canonical id (S9/W1 analog,
    * training-data exact dedup). */
  private val q21: Q = (s, d) =>
    t(s, d, "documents")
      .withColumn("fp", md5(lower(trim(col("text")))))
      .withColumn("canonical_id",
        min("doc_id").over(Window.partitionBy("fp")))
      .select("doc_id", "fp", "canonical_id")
      .orderBy("doc_id")

  private val q21Sql =
    """SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS canonical_id
      |FROM (SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q22
  /** P6 mention offsets via instr/strpos (1-based, 0 = absent). */
  private val q22: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        instr(col("text"), "spark").cast("long").as("spark_pos"),
        instr(col("text"), "the").cast("long").as("the_pos"))
      .orderBy("doc_id")

  private val q22Sql =
    """SELECT doc_id, CAST(strpos(text, 'spark') AS BIGINT) AS spark_pos,
      |  CAST(strpos(text, 'the') AS BIGINT) AS the_pos
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Embedding vector norm via higher-order functions (similarity search
    * support; double-cast before multiply on both sides). */
  private val q23: Q = (s, d) =>
    t(s, d, "embeddings")
      .select(
        col("vec_id"),
        expr("round(sqrt(aggregate(embedding, 0D, (s, x) -> s + cast(x AS double) * cast(x AS double))), 4)").as("nrm"))
      .orderBy("vec_id")

  private val q23Sql =
    """SELECT vec_id,
      |  round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS nrm
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q24
  /** Brute-force top-k cosine ANN BASELINE (labeled as such — the
    * production ANN path is q34's bucketed sign-LSH): probe = min vec_id;
    * sort key is the ROUNDED score + id so cross-engine ordering is
    * stable. */
  private val q24: Q = (s, d) => {
    val emb = t(s, d, "embeddings")
    val probe = emb.orderBy("vec_id").limit(1)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    emb.crossJoin(broadcast(probe))
      .where(col("vec_id") =!= col("probe_id"))
      .select(
        col("vec_id"),
        expr("round(aggregate(zip_with(embedding, pe, (x, y) -> cast(x AS double) * cast(y AS double)), 0D, (s, v) -> s + v), 4)").as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  private val q24Sql =
    """WITH p AS (SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
      |           WHERE vec_id = (SELECT min(vec_id) FROM embeddings))
      |SELECT e.vec_id,
      |  round(list_sum(list_transform(list_zip(e.embedding, p.pe),
      |        t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))), 4) AS cos_sim
      |FROM embeddings e, p WHERE e.vec_id <> p.probe_id
      |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin

  // ------------------------------------------- oracle-hash MinHash shared
  // Affine MinHash over md5-derived 32-bit hashes (OracleHash.scala): the
  // same signature/band-key algorithm as the production Blocking path, with
  // the hash family swapped for one the DuckDB oracle evaluates bit-for-bit
  // — so q25/q27 get VALUE-level oracles instead of rows-only checks.
  private val MinHashPerms = 20
  private val MinHashRows = 4 // 5 bands of 4 rows
  private val MaxBlockSz = Blocking.DefaultMaxBlockSize // stop-block cap, mirrored in SQL
  private lazy val MhA = Array.tabulate(MinHashPerms)(OracleHash.minHashA)
  private lazy val MhB = Array.tabulate(MinHashPerms)(OracleHash.minHashB)

  /** (doc_id, distinct word-3-shingles) — identical construction in the
    * DuckDB CTE `sh` below. */
  private def shingleDocs(s: SparkSession, d: String) = {
    import s.implicits._
    t(s, d, "documents")
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("arr"))
      .where(size(col("arr")) >= 3)
      .select(
        col("doc_id"),
        expr("array_distinct(transform(sequence(0, size(arr) - 3), i -> concat(arr[i], ' ', arr[i+1], ' ', arr[i+2])))").as("sh"))
      .as[(Long, Seq[String])]
  }

  /** LSH band-key entries per doc from the affine MinHash signature. */
  private def bandEntriesOf(
      s: SparkSession,
      docs: org.apache.spark.sql.Dataset[(Long, Seq[String])]) = {
    import s.implicits._
    docs.flatMap { case (id, sh) =>
      val sig = Similarity.minHashSignatureAffine(
        sh.map(OracleHash.h32).toArray, MhA, MhB)
      Similarity.bandKeysPoly(sig, MinHashRows, OracleHash.BandMult, OracleHash.Mod)
        .map(k => Blocking.BlockEntry(k, id))
    }
  }

  private def bandEntries(s: SparkSession, d: String) =
    bandEntriesOf(s, shingleDocs(s, d))

  private def oh(e: String): String = OracleHash.sqlH32(e)

  /** DuckDB CTEs mirroring shingleDocs + bandEntries. */
  private lazy val minHashCtes: String = {
    val bandKeyFold = (1 to MinHashRows).foldLeft("(band + 1)") { (acc, r) =>
      s"(($acc * ${OracleHash.BandMult} + ms[$r]) % ${OracleHash.Mod})"
    }
    s"""arr AS (
       |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS arr FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(len(arr) - 2),
       |      i -> arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3])) AS sh
       |  FROM arr WHERE len(arr) >= 3),
       |perm AS (
       |  SELECT p, (${oh("'minhash-a:' || p")} % 1073741824) * 2 + 1 AS a,
       |         ${oh("'minhash-b:' || p")} AS b
       |  FROM range($MinHashPerms) rp(p)),
       |g AS (
       |  SELECT u.doc_id, perm.p,
       |         min((perm.a * ${oh("u.shingle")} + perm.b) % ${OracleHash.Mod}) AS m
       |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh) u, perm
       |  GROUP BY u.doc_id, perm.p),
       |sig AS (
       |  SELECT doc_id, p // $MinHashRows AS band, list(m ORDER BY p) AS ms
       |  FROM g GROUP BY doc_id, p // $MinHashRows),
       |keys AS (
       |  SELECT doc_id, $bandKeyFold AS band_key FROM sig)""".stripMargin
  }

  // ---------------------------------------------------------------- q25
  /** N-gram (3-shingle) Jaccard near-dup scoring over MinHash-LSH candidate
    * pairs — the PRODUCTION plan shape (block keys -> stop-block cap ->
    * dedup'd pairs -> scoring), not an all-pairs self-join: work is bounded
    * by cap² per block, linear in corpus size. Pair generation runs through
    * the real `Blocking.candidatePairs` operator; the DuckDB oracle mirrors
    * the affine-MinHash keys, the cap, and the scoring exactly. */
  private val q25: Q = (s, d) => {
    import s.implicits._
    // The shingle table feeds THREE consumers (band-key generation + both
    // payload-join sides); recomputing the scan→split→shingle chain 3× was
    // ~half of q25's cost (VERDICT r02). Materialize it ONCE — r07 moves
    // the materialization from session-local parquet to localCheckpoint
    // (the skim/fps-family idiom): same lineage truncation, no disk
    // write+read roundtrip of the shingle arrays inside the timed query.
    val docs = shingleDocs(s, d).toDF("doc_id", "sh").localCheckpoint()
    // r07: the band-entry table feeds TWO consumers inside candidatePairs
    // (the block-size histogram and the eligibility join) — localCheckpoint
    // it so the MinHash signature pass (20 affine perms + an md5-family
    // hash per shingle) runs once per document instead of twice.
    val entries = bandEntriesOf(s, docs.as[(Long, Seq[String])])
      .localCheckpoint()
    val gen = Blocking.candidatePairs(s, entries, MaxBlockSz,
      persistSizes = false)
    val a = docs.select(col("doc_id").as("src_doc"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("dst_doc"), col("sh").as("sh_b"))
    gen.pairs.toDF().select(col("src").as("src_doc"), col("dst").as("dst_doc"))
      .join(a, Seq("src_doc")).join(b, Seq("dst_doc"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .where(col("inter") > 0) // integer predicate — identical in both engines
      .select(
        col("src_doc"), col("dst_doc"),
        round(col("inter").cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4).as("jac"))
      .orderBy("src_doc", "dst_doc")
  }

  private lazy val q25Sql =
    s"""WITH $minHashCtes,
       |ksz AS (SELECT band_key, count(*) AS sz FROM keys GROUP BY band_key),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS src_doc, b.doc_id AS dst_doc
       |  FROM keys a
       |  JOIN keys b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN ksz ON ksz.band_key = a.band_key
       |  WHERE ksz.sz BETWEEN 2 AND $MaxBlockSz)
       |SELECT p.src_doc, p.dst_doc,
       |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jac
       |FROM pairs p
       |JOIN sh a ON a.doc_id = p.src_doc
       |JOIN sh b ON b.doc_id = p.dst_doc
       |WHERE len(list_intersect(a.sh, b.sh)) > 0
       |ORDER BY src_doc, dst_doc""".stripMargin

  // ---------------------------------------------------------------- q26
  /** Levenshtein (built-in both engines) on source-name pairs. */
  private val q26: Q = (s, d) => {
    val src = t(s, d, "documents").select("source").distinct()
    val a = src.select(col("source").as("src_a"))
    val b = src.select(col("source").as("src_b"))
    a.crossJoin(b).where(col("src_a") < col("src_b"))
      .select(
        col("src_a"), col("src_b"),
        levenshtein(col("src_a"), col("src_b")).cast("long").as("lev"))
      .orderBy("src_a", "src_b")
  }

  private val q26Sql =
    """SELECT a.source AS src_a, b.source AS src_b,
      |  CAST(levenshtein(a.source, b.source) AS BIGINT) AS lev
      |FROM (SELECT DISTINCT source FROM documents) a
      |JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
      |ORDER BY src_a, src_b""".stripMargin

  // ------------------------------------------------- native expressions
  /** P8 ASCII-fold as a native codegen Expression (registered via
    * GraftExtensions); oracle = DuckDB strip_accents on the same
    * fold-range input. */
  private val q31: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        expr("graft_ascii_fold(concat(source, ' Wêreldé-ü ö í à'))").as("folded"))
      .orderBy("doc_id")

  private val q31Sql =
    """SELECT doc_id, strip_accents(concat(source, ' Wêreldé-ü ö í à')) AS folded
      |FROM documents ORDER BY doc_id""".stripMargin

  /** P9 percent-encode as a native Expression; oracle = handcrafted
    * replace chain over the known input charset. */
  private val q32: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        expr("graft_escape_title(concat(source, ' one/two+three'))").as("escaped"))
      .orderBy("doc_id")

  private val q32Sql =
    """SELECT doc_id,
      |  replace(replace(concat(source, ' one/two+three'), ' ', '%20'), '+', '%2B') AS escaped
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Jaro-Winkler as a native binary Expression vs DuckDB's builtin. */
  private val q33: Q = (s, d) => {
    val src = t(s, d, "documents").select("source").distinct()
    val a = src.select(col("source").as("src_a"))
    val b = src.select(col("source").as("src_b"))
    a.crossJoin(b).where(col("src_a") < col("src_b"))
      .select(
        col("src_a"), col("src_b"),
        expr("round(graft_jaro_winkler(src_a, src_b), 6)").as("jw"))
      .orderBy("src_a", "src_b")
  }

  private val q33Sql =
    """SELECT a.source AS src_a, b.source AS src_b,
      |  round(jaro_winkler_similarity(a.source, b.source), 6) AS jw
      |FROM (SELECT DISTINCT source FROM documents) a
      |JOIN (SELECT DISTINCT source FROM documents) b ON a.source < b.source
      |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------- q27
  /** MinHash-LSH near-dup candidate blocks over documents: the engine's
    * signature/band machinery (Similarity.minHashSignatureAffine +
    * bandKeysPoly — the same structure the production Blocking path runs
    * with mixer hashes) cross-checked value-for-value by the DuckDB oracle
    * recomputing every signature from the md5 hash family. */
  private val q27: Q = (s, d) => {
    import s.implicits._
    bandEntries(s, d)
      .toDF("band_key", "doc_id")
      .groupBy("band_key").agg(count(lit(1)).as("sz"), min("doc_id").as("min_doc"))
      .orderBy(col("band_key"))
  }

  private lazy val q27Sql =
    s"""WITH $minHashCtes
       |SELECT band_key, count(*) AS sz, min(doc_id) AS min_doc
       |FROM keys GROUP BY band_key ORDER BY band_key""".stripMargin

  // ---------------------------------------------------------------- q28
  /** SimHash fingerprints + hamming distance to the corpus min doc. The
    * engine runs Similarity.simHash (the production bit-vote kernel) over
    * md5-derived 32-bit token hashes; the oracle recomputes every bit vote
    * in SQL. (32-bit hash inputs => bits 32..63 vote all-negative and
    * clear, i.e. an exact 32-bit SimHash.) */
  private val q28: Q = (s, d) => {
    import s.implicits._
    // r07: the simhash table feeds BOTH the probe (min-doc reference row)
    // and the main projection — localCheckpoint it so the md5-family
    // bit-vote pass over every token runs once instead of twice.
    val sims = t(s, d, "documents")
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
      .as[(Long, Seq[String])]
      .map { case (id, toks) =>
        (id, Similarity.simHash(toks.map(OracleHash.h32).toArray))
      }.toDF("doc_id", "simhash")
      .localCheckpoint()
    val probe = sims.orderBy("doc_id").limit(1)
      .select(col("simhash").as("probe_sim"))
    sims.crossJoin(broadcast(probe))
      .select(
        col("doc_id"), col("simhash"),
        expr("CAST(bit_count(simhash ^ probe_sim) AS BIGINT)").as("hamming_to_first"))
      .orderBy("doc_id")
  }

  private lazy val q28Sql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
       |  FROM documents),
       |votes AS (
       |  SELECT doc_id, b,
       |         sum(CASE WHEN (${oh("t")} >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
       |  FROM tok, range(32) rb(b) GROUP BY doc_id, b),
       |sh AS (
       |  SELECT doc_id,
       |         CAST(sum(CASE WHEN c > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id)
       |SELECT s.doc_id, s.simhash,
       |  CAST(bit_count(xor(s.simhash, p.simhash)) AS BIGINT) AS hamming_to_first
       |FROM sh s, (SELECT simhash FROM sh WHERE doc_id = (SELECT min(doc_id) FROM sh)) p
       |ORDER BY doc_id""".stripMargin

  /** The full ER pipeline on the deterministic synthetic corpus (constant
    * size — independent of sf): url -> canonical url (min url of the
    * predicted cluster). The oracle is the PLANTED ground truth embedded as
    * a literal VALUES table (generated from the same pure functions the
    * corpus generator runs) — an end-to-end golden: the predicted partition
    * must equal the planted clustering exactly. */
  private val q29: Q = (s, _) => {
    import s.implicits._
    // 8 generator partitions for the 307-doc corpus (vs inheriting the
    // 96-wide catalog session): task count tracks data volume, the same
    // one-partition-per-N-MB sizing a 100-TB run would use — at 96 the
    // query's wall time was dominated by scheduling near-empty tasks
    val pages = graft.sources.WebPagesGen.webpages(s, Q29Clusters, numPartitions = 8)
    // the ER stage chain, in memory: its blocks are released once the
    // assignment is collected, so the result holds no storage of its own
    val assigned = EntityResolution.run(s, pages, EntityResolution.InMemory)(
      _.select(col("url"), col("cluster")).as[(String, Long)].collect())
    val canonical = assigned.groupBy(_._2).values.flatMap { members =>
      val minUrl = members.map(_._1).min
      members.map { case (url, _) => (url, minUrl) }
    }
    canonical.toSeq.toDF("url", "canonical").orderBy("url")
  }

  private[graft] val Q29Clusters = 150L

  private lazy val q29Sql = {
    import graft.sources.WebPagesGen
    val rows = (0L until Q29Clusters).flatMap { c =>
      val urls = (0 until WebPagesGen.clusterSize(c)).map(v => WebPagesGen.urlOf(c, v))
      val canonical = urls.min
      urls.map(u => (u, canonical))
    }.sortBy(_._1)
    val values = rows.map { case (u, cn) => s"('$u', '$cn')" }.mkString(",\n")
    s"SELECT url, canonical FROM (VALUES\n$values) t(url, canonical) ORDER BY url"
  }

  // ---------------------------------------------------------------- q34
  // Sign-LSH ANN parameters: 96 planes / 6 bands = 16 bits per band
  // (bucket cardinality 2^16 per band — candidate volume ~linear in corpus
  // size), hot buckets over 128 corpus members dropped.
  private val AnnPlanes = 96
  private val AnnBands = 6
  private val AnnDims = 64 // embeddings table dimension (TESTDATA.md)
  private val AnnCap = 128

  /** LSH-bucketed approximate nearest neighbors (the ANN scale path):
    * top-3 per query over the embeddings table, queries = vec_id < 20.
    * Signatures run on integer-quantized vectors with the md5 sign matrix,
    * so the DuckDB oracle recomputes every bucket and candidate exactly;
    * ranking uses the 4dp-rounded cosine with cid tiebreak so cross-engine
    * ordering cannot diverge at 1e-16. */
  private val q34: Q = (s, d) => {
    import s.implicits._
    import graft.operators.SimilaritySearch
    import graft.operators.SimilaritySearch.EmbeddingRow
    val emb = t(s, d, "embeddings")
      .selectExpr("vec_id AS id", "embedding AS vec").as[EmbeddingRow]
    val queries = emb.filter((r: EmbeddingRow) => r.id < 20)
    SimilaritySearch.lshCandidates(
      s, queries, emb, SimilaritySearch.oracleSigns(AnnPlanes, AnnDims),
      AnnBands, AnnCap)
      .withColumn("cos_sim", round(col("cosine"), 4))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("cid"))).cast("long"))
      .where(col("rnk") <= 3)
      .select("qid", "cid", "cos_sim", "rnk")
      .orderBy("qid", "rnk")
  }

  /** Shared DuckDB CTE chain reproducing the engine's quantized sign-LSH:
    * quantize -> sign matrix -> integer plane dots -> band keys -> eligible
    * (capped) buckets -> candidate pairs (filtered by `candPred`) -> exact
    * rounded cosines. Used by q34 (top-k) and q40 (near-dup dedup). */
  private def annCtes(candPred: String): String = {
    val bits = AnnPlanes / AnnBands
    s"""quant AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |sgn AS (
       |  SELECT p, d,
       |    CASE WHEN ${oh("'plane:' || p || ':' || d")} % 2 = 0 THEN 1::BIGINT ELSE -1::BIGINT END AS s
       |  FROM range($AnnPlanes) rp(p), range($AnnDims) rd(d)),
       |dotp AS (
       |  SELECT v.vec_id, g.p, CAST(sum(v.qv[g.d + 1] * g.s) AS BIGINT) AS dot
       |  FROM quant v, sgn g GROUP BY v.vec_id, g.p),
       |bnd AS (
       |  SELECT vec_id, p // $bits AS band,
       |    CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << (p % $bits)) ELSE 0 END) AS BIGINT) AS bval
       |  FROM dotp GROUP BY vec_id, p // $bits),
       |keys AS (SELECT vec_id, band * 4294967296 + bval AS bucket FROM bnd),
       |eligible AS (SELECT bucket FROM keys GROUP BY bucket HAVING count(*) <= $AnnCap),
       |cand AS (
       |  SELECT DISTINCT qk.vec_id AS qid, ck.vec_id AS cid
       |  FROM keys qk
       |  JOIN keys ck ON qk.bucket = ck.bucket
       |  JOIN eligible el ON el.bucket = qk.bucket
       |  WHERE ($candPred) AND qk.vec_id <> ck.vec_id),
       |scored AS (
       |  SELECT c.qid, c.cid,
       |    round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
       |            t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
       |      / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |           * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS cos_sim
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.qid
       |  JOIN embeddings b ON b.vec_id = c.cid)""".stripMargin
  }

  private lazy val q34Sql =
    s"""WITH ${annCtes("qk.vec_id < 20")},
       |ranked AS (
       |  SELECT qid, cid, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT qid, cid, cos_sim, rnk FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin

  /** Multimodal plumbing: opaque binary columns + typed metadata through
    * the batched Multimodal operator. Image rows carry REAL PNG headers
    * (synthesized with deterministic dimensions) and the operator decodes
    * width×height from the IHDR bytes — oracle-checked, since the DuckDB
    * side reconstructs the exact same blob and dimension arithmetic.
    * Audio/video decode stays a marked stub (no codecs in-container);
    * their oracle columns are the codec-free features (byte length,
    * hex-md5 content fingerprint, modality routing). */
  private val q30: Q = (s, d) => {
    import s.implicits._
    import graft.operators.Multimodal
    val media = t(s, d, "documents").select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) =>
        val modality = (id % 4) match {
          case 0 => "image"; case 1 => "audio"; case 2 => "video"; case _ => "text"
        }
        val payload = (if (text == null) "" else text)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bytes =
          if (modality == "image")
            Multimodal.pngHeader(
              (320 + id % 1600).toInt, (240 + id % 900).toInt) ++ payload
          else payload
        Multimodal.MediaRow(id, modality, bytes)
      }
    Multimodal.extractFeatures(s, media).toDF()
      .select(col("id"), col("modality"),
        col("byteLen").as("byte_len"),
        col("contentHexMd5").as("content_fp"),
        // stub-decoded video dims are not oracle-expressible; the image
        // branch's REAL header decode is
        when(col("modality") === "image", col("width").cast("long"))
          .otherwise(0L).as("img_width"),
        when(col("modality") === "image", col("height").cast("long"))
          .otherwise(0L).as("img_height"))
      .orderBy("id")
  }

  private val q30Sql =
    """WITH m AS (
      |  SELECT doc_id AS id,
      |    CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' WHEN 2 THEN 'video' ELSE 'text' END AS modality,
      |    CASE WHEN doc_id % 4 = 0 THEN
      |      from_hex(concat('89504e470d0a1a0a0000000d49484452',
      |        printf('%08x', 320 + doc_id % 1600), printf('%08x', 240 + doc_id % 900),
      |        '0806000000', '00000000')) || encode(text)
      |    ELSE encode(text) END AS bytes,
      |    CASE WHEN doc_id % 4 = 0 THEN 320 + doc_id % 1600 ELSE 0 END AS w,
      |    CASE WHEN doc_id % 4 = 0 THEN 240 + doc_id % 900 ELSE 0 END AS h
      |  FROM documents)
      |SELECT id, modality, CAST(octet_length(bytes) AS BIGINT) AS byte_len,
      |  md5(hex(bytes)) AS content_fp,
      |  CAST(w AS BIGINT) AS img_width, CAST(h AS BIGINT) AS img_height
      |FROM m ORDER BY id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** A4 dense first-seen entity labels (EntityPrior.entityLabels): dense
    * 0..n-1 ids over the deterministic `entity ASC` order, computed with
    * range partitioning + zipWithIndex (no single-task window). */
  private val q35: Q = (s, d) =>
    graft.operators.EntityPrior.entityLabels(
      t(s, d, "documents").select(col("source").as("entity")))
      .orderBy("entity")

  private val q35Sql =
    """SELECT source AS entity,
      |  CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS label
      |FROM (SELECT DISTINCT source FROM documents) ORDER BY entity""".stripMargin

  // ---------------------------------------------------------------- q36
  /** J1/P10/P11 redirect-lookup build (RedirectLookup.build) over
    * page/redirect tables synthesized from documents identically in both
    * engines: join on rd_from = page_id, '_'→space, both-case keys,
    * deterministic per-key dedup. */
  private val q36: Q = (s, d) => {
    val docs = t(s, d, "documents")
    val pages = docs.selectExpr(
      "doc_id AS page_id",
      "concat(source, '_', doc_id) AS page_title",
      "CAST(0 AS BIGINT) AS page_namespace")
    val redirects = docs.where(col("doc_id") % 3 === 0).selectExpr(
      "doc_id AS rd_from",
      "concat('Target_', source) AS rd_title")
    graft.operators.RedirectLookup.build(pages, redirects)
      .orderBy("from_key")
  }

  private val q36Sql =
    """WITH p AS (
      |  SELECT doc_id AS page_id, source || '_' || doc_id AS page_title, 0 AS page_namespace
      |  FROM documents),
      |r AS (
      |  SELECT doc_id AS rd_from, 'Target_' || source AS rd_title
      |  FROM documents WHERE doc_id % 3 = 0),
      |j AS (
      |  SELECT replace(page_title, '_', ' ') AS from_page, replace(rd_title, '_', ' ') AS to_page
      |  FROM p JOIN r ON r.rd_from = p.page_id WHERE page_namespace = 0),
      |k AS (
      |  SELECT upper(substring(from_page, 1, 1)) || substring(from_page, 2) AS from_key, from_page, to_page FROM j
      |  UNION ALL
      |  SELECT lower(substring(from_page, 1, 1)) || substring(from_page, 2) AS from_key, from_page, to_page FROM j),
      |ranked AS (
      |  SELECT from_key, to_page,
      |    row_number() OVER (PARTITION BY from_key
      |      ORDER BY CASE WHEN from_key = from_page THEN 0 ELSE 1 END, to_page) AS rn
      |  FROM k)
      |SELECT from_key, to_page FROM ranked WHERE rn = 1 ORDER BY from_key""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Embedding-cosine NEAR-DUP DEDUP (the last of the dedup family: exact
    * q21, n-gram Jaccard q25, MinHash q27, SimHash q28): sign-LSH candidate
    * pairs over ALL vectors -> rounded-cosine >= 0.9 edges -> connected
    * components -> canonical (min) vector id per near-dup cluster. The
    * oracle recomputes candidates via the shared ANN CTEs and the closure
    * via a recursive CTE. */
  private val q40: Q = (s, d) => {
    import s.implicits._
    import graft.operators.{ConnectedComponents, SimilaritySearch}
    import graft.operators.SimilaritySearch.EmbeddingRow
    val emb = t(s, d, "embeddings")
      .selectExpr("vec_id AS id", "embedding AS vec").as[EmbeddingRow]
    val cands = SimilaritySearch.lshCandidates(
      s, emb, emb, SimilaritySearch.oracleSigns(AnnPlanes, AnnDims),
      AnnBands, AnnCap)
    val edges = cands.where(round(col("cosine"), 4) >= 0.9)
      .select(col("qid").as("src"), col("cid").as("dst"))
      .as[graft.model.Edge]
    ConnectedComponents.assign(s, edges, emb.select(col("id")))
      .select(col("id").as("vec_id"), col("comp").as("canonical"))
      .orderBy("vec_id")
  }

  private lazy val q40Sql =
    s"""WITH RECURSIVE ${annCtes("TRUE")},
       |e(src, dst) AS (SELECT qid, cid FROM scored WHERE cos_sim >= 0.9),
       |nodes(id) AS (SELECT vec_id FROM embeddings),
       |reach(id, comp) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN e ON e.src = r.id)
       |SELECT id AS vec_id, CAST(min(comp) AS BIGINT) AS canonical
       |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- q41
  private val IvfCentroids = 16
  private val IvfNProbe = 4
  private val IvfTrainIters = graft.operators.SimilaritySearch.DefaultTrainIterations

  /** IVF-flat ANN (the inverted-file scale path next to sign-LSH q34):
    * centroid codebook TRAINED IN-ENGINE (deterministic Lloyd's —
    * quantized vectors, integer-sum centroids, 4dp-rounded assignment,
    * fixed 2 iterations; `SimilaritySearch.trainCodebook`) and broadcast →
    * map-side inverted-list assignment (no shuffle) → nprobe probe join →
    * exact rounded-cosine rerank, top-3 per query (queries = vec_id < 20).
    * Every decision — seed set, both Lloyd rounds, lists, probes, ranks —
    * is integer/rounded arithmetic, so the oracle recomputes the ENTIRE
    * training + search as unrolled SQL CTEs. */
  private val q41: Q = (s, d) => {
    import s.implicits._
    import graft.operators.SimilaritySearch
    import graft.operators.SimilaritySearch.EmbeddingRow
    val emb = t(s, d, "embeddings")
      .selectExpr("vec_id AS id", "embedding AS vec").as[EmbeddingRow]
    val queries = emb.filter((r: EmbeddingRow) => r.id < 20)
    SimilaritySearch.ivfFlatTopK(s, queries, emb, k = 3, IvfCentroids, IvfNProbe,
      IvfTrainIters)
      .orderBy("qid", "rnk")
  }

  /** DuckDB cosine between two embedding list columns (double arithmetic
    * in sequence order — bit-identical to the engine's denseCosine). */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |            t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
       |      / sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |           * list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin

  /** One unrolled Lloyd iteration as SQL CTEs: assignment of every
    * quantized vector to its nearest centroid of `centIn` (4dp-rounded
    * cosine, index tiebreak), then the integer-sum update with empty
    * clusters carrying the previous centroid forward — bit-for-bit the
    * `SimilaritySearch.trainCodebook` round. */
  private def lloydIterSql(i: Int, centIn: String, centOut: String): String =
    s"""asg$i AS (
       |  SELECT vec_id, cidx FROM (
       |    SELECT q.vec_id, c.cidx,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${cosSql("q.qv", "c.cent")}, 4) DESC, c.cidx) AS rn
       |    FROM qe q CROSS JOIN $centIn c) WHERE rn = 1),
       |sum$i AS (
       |  SELECT a.cidx, e.pos, SUM(e.v) AS sv
       |  FROM asg$i a JOIN expl e USING (vec_id) GROUP BY a.cidx, e.pos),
       |upd$i AS (SELECT cidx, list(sv ORDER BY pos) AS cent FROM sum$i GROUP BY cidx),
       |$centOut AS (
       |  SELECT c.cidx, coalesce(u.cent, c.cent) AS cent
       |  FROM $centIn c LEFT JOIN upd$i u USING (cidx))""".stripMargin

  private lazy val q41Sql = {
    val iters = (0 until IvfTrainIters)
      .map(i => lloydIterSql(i, s"cent$i", s"cent${i + 1}"))
    val fin = s"cent$IvfTrainIters"
    s"""WITH qe AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |expl AS (
       |  SELECT vec_id, unnest(qv) AS v,
       |    unnest(generate_series(1, len(qv))) AS pos FROM qe),
       |cent0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cidx,
       |    qv AS cent
       |  FROM qe ORDER BY vec_id LIMIT $IvfCentroids),
       |${iters.mkString(",\n")},
       |lists AS (
       |  SELECT vec_id, cidx FROM (
       |    SELECT q.vec_id, c.cidx,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${cosSql("q.qv", "c.cent")}, 4) DESC, c.cidx) AS rn
       |    FROM qe q CROSS JOIN $fin c) WHERE rn = 1),
       |probe AS (
       |  SELECT qid, cidx FROM (
       |    SELECT q.vec_id AS qid, c.cidx,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${cosSql("q.qv", "c.cent")}, 4) DESC, c.cidx) AS rn
       |    FROM qe q CROSS JOIN $fin c WHERE q.vec_id < 20) WHERE rn <= $IvfNProbe),
       |cand AS (
       |  SELECT DISTINCT p.qid, l.vec_id AS cid
       |  FROM probe p JOIN lists l USING (cidx) WHERE l.vec_id <> p.qid),
       |scored AS (
       |  SELECT c.qid, c.cid, round(${cosSql("a.embedding", "b.embedding")}, 4) AS cos_sim
       |  FROM cand c
       |  JOIN embeddings a ON a.vec_id = c.qid
       |  JOIN embeddings b ON b.vec_id = c.cid),
       |ranked AS (
       |  SELECT qid, cid, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT qid, cid, cos_sim, rnk FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  // ---------------------------------------------------------------- q42
  /** Grouping sets via ROLLUP over (event_type, day): per-(type,day)
    * aggregates + per-type subtotals + grand total in one pass — a
    * category the reference has nowhere (SURVEY §2.8); Spark plans it as
    * a single Expand + partial-agg shuffle, the same shape at any scale.
    * Rollup NULL group keys are COALESCE'd to a sentinel on both engines:
    * engine-neutral, and unambiguous because neither column is nullable
    * in the events table.
    *
    * sum_value is emitted as a canonical decimal STRING on both engines:
    * r03's driver artifact hash-failed this query on nothing but the
    * aggregated column's *declared* decimal width (values judge-verified
    * bit-identical), so the representational surface is removed entirely.
    * The NATIVE sum type is stringified (no intermediate down-cast to
    * DECIMAL(18,2) — ADVICE r04: that cast would silently NULL a >10^16
    * sum in non-ANSI Spark while DuckDB raises); a scale-2 decimal
    * renders as "123.45" in both engines whatever its precision. */
  private val q42: Q = (s, d) =>
    t(s, d, "events")
      .rollup(col("event_type"), to_date(col("ts")).cast("string").as("day"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).as("sum_value_dec"))
      .select(
        coalesce(col("event_type"), lit("<all>")).as("event_type"),
        coalesce(col("day"), lit("<all>")).as("day"),
        col("cnt"),
        col("sum_value_dec").cast("string").as("sum_value"))
      .orderBy("event_type", "day")

  private lazy val q42Sql =
    s"""SELECT coalesce(event_type, '<all>') AS event_type,
       |  coalesce(CAST(CAST(ts AS DATE) AS VARCHAR), '<all>') AS day,
       |  count(*) AS cnt,
       |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS sum_value
       |FROM events
       |GROUP BY ROLLUP(event_type, CAST(CAST(ts AS DATE) AS VARCHAR))
       |ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------------------- q43
  /** INTERSECT / EXCEPT (set semantics — another §2.8 absent category):
    * parts ordered in BOTH the two largest order-year cohorts, minus
    * those also ordered in the smallest; one distinct-aggregate shuffle
    * per leg, then hash set-ops. */
  private val q43: Q = (s, d) => {
    val li = t(s, d, "lineitem").select(col("l_partkey"), col("l_orderkey"))
    val ord = t(s, d, "orders")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("yr"))
    // r07: the join+distinct subtree used to be re-derived FOUR times (the
    // year-domain collect + all three set-op legs — pushdown made each
    // leg's orders scan distinct, so only the lineitem exchange was
    // reused). Reduce once to the distinct (partkey, yr) table — the
    // smallest input every consumer needs — and materialize it with
    // localCheckpoint; the year-domain collect is the action that pays for
    // it, and the three legs become filters over the reduced table
    // (guide §2.4: share one exchange instead of recomputing the subtree).
    // Set-op semantics are unchanged: each leg was distinct-by-partkey
    // within one year, which the (partkey, yr)-distinct table preserves.
    val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey").as("partkey"), col("yr"))
      .distinct()
      .localCheckpoint()
    def inYear(y: org.apache.spark.sql.Column) =
      joined.where(col("yr") === y).select("partkey").distinct()
    val years = joined.select("yr").distinct().orderBy(col("yr"))
      .collect().map(_.getInt(0))
    // <2 distinct years: the oracle's OFFSET 1 LIMIT 1 leg yields no rows
    // (NULL comparison), so the whole set-expression is empty — mirror
    // that instead of throwing on years(length-2)/years.head.
    if (years.length < 2) joined.select("partkey").where(lit(false))
    else {
      val (loYr, hiYr, minYr) = (years(years.length - 2), years.last, years.head)
      inYear(lit(loYr)).intersect(inYear(lit(hiYr)))
        .except(inYear(lit(minYr)))
        .orderBy("partkey")
    }
  }

  private lazy val q43Sql =
    s"""WITH j AS (
       |  SELECT l_partkey AS partkey, EXTRACT(year FROM o_orderdate) AS yr
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |yrs AS (SELECT DISTINCT yr FROM j),
       |lo AS (SELECT yr FROM yrs ORDER BY yr DESC OFFSET 1 LIMIT 1),
       |hi AS (SELECT max(yr) AS yr FROM yrs),
       |mn AS (SELECT min(yr) AS yr FROM yrs)
       |SELECT DISTINCT partkey FROM j WHERE yr = (SELECT yr FROM lo)
       |INTERSECT
       |SELECT DISTINCT partkey FROM j WHERE yr = (SELECT yr FROM hi)
       |EXCEPT
       |SELECT DISTINCT partkey FROM j WHERE yr = (SELECT yr FROM mn)
       |ORDER BY partkey""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Tumbling time buckets over the events stream table: hourly
    * date_trunc + per-type aggregates — the batch form of a windowed
    * streaming aggregation (money-exact via pre-agg decimal cast).
    * The bucket is emitted as BIGINT epoch seconds, not a raw timestamp:
    * timestamp serialization (parquet instant vs DuckDB naive TIMESTAMP)
    * diverges at the driver's hash layer even when the values agree, so
    * the only engine-neutral representation is integer seconds (session
    * TZ pinned UTC in Verify).
    *
    * sum_value, like q42's, is emitted as a canonical decimal STRING on
    * both engines: r03 hash-failed on the declared decimal width alone
    * (Spark sum(DECIMAL(18,2)) -> 28,2 vs DuckDB -> 38,2; values
    * judge-verified bit-identical). The NATIVE sum type is stringified
    * directly — a scale-2 decimal renders as "123.45" regardless of its
    * declared precision, and skipping the old intermediate down-cast to
    * DECIMAL(18,2) removes the latent divergence ADVICE r04 flagged
    * (under non-ANSI mode a >10^16 sum would silently NULL in Spark
    * while DuckDB's identical-looking CAST raises). */
  private val q37: Q = (s, d) =>
    t(s, d, "events")
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).cast("long").as("bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).as("sum_value_dec"))
      .select(
        col("bucket"), col("event_type"), col("cnt"),
        col("sum_value_dec").cast("string").as("sum_value"))
      .orderBy("bucket", "event_type")

  private val q37Sql =
    """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket,
      |  event_type, count(*) AS cnt,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Sessionization: per-user 30-minute-gap sessions via lag + running sum
    * windows (both PARTITIONED by user — no global window). The classic
    * training-data/events pipeline operator. */
  private val q38: Q = (s, d) => {
    t(s, d, "events").createOrReplaceTempView("graft_events")
    s.sql(
      """SELECT event_id, user_id, CAST(session_idx AS BIGINT) AS session_idx FROM (
        |  SELECT event_id, user_id,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM (
        |    SELECT event_id, user_id, ts,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |             OR (unix_timestamp(ts) - unix_timestamp(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) > 1800
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM graft_events))
        |ORDER BY user_id, event_id""".stripMargin)
  }

  private val q38Sql =
    """SELECT event_id, user_id, CAST(session_idx AS BIGINT) AS session_idx FROM (
      |  SELECT event_id, user_id,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM (
      |    SELECT event_id, user_id, ts,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |             OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
      |           THEN 1 ELSE 0 END AS new_session
      |    FROM events))
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q39
  /** JSON property extraction from the events props column (query-time
    * JSON — absent from the reference, required of a webtext pipeline). */
  private val q39: Q = (s, d) =>
    t(s, d, "events")
      .select(
        col("event_type"),
        expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("cnt"),
        sum("k").cast("long").as("sum_k"))
      .orderBy("event_type")

  private val q39Sql =
    """SELECT event_type, count(*) AS cnt,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q44
  /** URL canonicalization + per-host aggregation — the web-pipeline
    * operator that makes crawl URLs joinable/dedupable (absent from the
    * reference, core to any Common-Crawl-shaped corpus): lowercase
    * scheme+host, strip the default :443/:80 port, drop `utm_*` tracking
    * params (then a dangling `?`), drop the fragment, strip a leading
    * `www.`. URLs are synthesized deterministically per doc (the q31/q32
    * pattern — the testdata text column carries none), messy on purpose:
    * uppercase scheme/host, default port, utm params, fragment. The whole
    * chain is engine-portable regexp_replace/lower, so DuckDB mirrors it
    * literally; map-only + one host-count shuffle at scale. */
  private val q44: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        concat(
          lit("HTTPS://WWW."), col("source"), lit(".Example.COM:443/p/"),
          (col("doc_id") % 7).cast("string"),
          lit("?utm_source=feed&utm_campaign=x&id="), col("doc_id").cast("string"),
          lit("#frag")).as("url"))
      .withColumn("canon",
        // order matters and is identical on both engines:
        // fragment → utm params → dangling '?'/'&' → scheme+host lowercase
        // (host = everything before the first '/') → default port → www.
        regexp_replace(col("url"), "#.*$", ""))
      .withColumn("canon", regexp_replace(col("canon"), "(utm_[a-z]+=[^&#]*&?)", ""))
      .withColumn("canon", regexp_replace(col("canon"), "[?&]$", ""))
      .withColumn("canon",
        concat(
          lower(regexp_extract(col("canon"), "^([^/?]*://[^/?]*)", 1)),
          regexp_replace(col("canon"), "^[^/?]*://[^/?]*", "")))
      .withColumn("canon", regexp_replace(col("canon"), ":443(/|$)", "$1"))
      .withColumn("canon", regexp_replace(col("canon"), "^(https?://)www\\.", "$1"))
      .withColumn("host", regexp_extract(col("canon"), "^https?://([^/?]*)", 1))
      .groupBy("host")
      .agg(
        count(lit(1)).as("cnt"),
        countDistinct(col("canon")).cast("long").as("distinct_urls"))
      .orderBy("host")

  private val q44Sql =
    """WITH u AS (
      |  SELECT doc_id,
      |    'HTTPS://WWW.' || source || '.Example.COM:443/p/' ||
      |    CAST(doc_id % 7 AS VARCHAR) ||
      |    '?utm_source=feed&utm_campaign=x&id=' || CAST(doc_id AS VARCHAR) ||
      |    '#frag' AS url
      |  FROM documents),
      |c1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS canon FROM u),
      |c2 AS (SELECT doc_id, regexp_replace(canon, '(utm_[a-z]+=[^&#]*&?)', '', 'g') AS canon FROM c1),
      |c3 AS (SELECT doc_id, regexp_replace(canon, '[?&]$', '') AS canon FROM c2),
      |c4 AS (SELECT doc_id,
      |    lower(regexp_extract(canon, '^([^/?]*://[^/?]*)', 1)) ||
      |    regexp_replace(canon, '^[^/?]*://[^/?]*', '') AS canon FROM c3),
      |c5 AS (SELECT doc_id, regexp_replace(canon, ':443(/|$)', '\1') AS canon FROM c4),
      |c6 AS (SELECT doc_id, regexp_replace(canon, '^(https?://)www\.', '\1') AS canon FROM c5)
      |SELECT regexp_extract(canon, '^https?://([^/?]*)', 1) AS host,
      |  count(*) AS cnt,
      |  CAST(count(DISTINCT canon) AS BIGINT) AS distinct_urls
      |FROM c6 GROUP BY 1 ORDER BY host""".stripMargin

  // ---------------------------------------------------------------- q45
  /** PII-style redaction — scrub emails and phone-shaped tokens before a
    * corpus is trainable (the standard web-text hygiene pass; absent from
    * the reference). PII is planted deterministically per doc, then
    * redacted with engine-portable character-class regexes; the output is
    * the per-doc redaction counts plus an md5 of the redacted text so the
    * oracle verifies the REDACTED CONTENT, not just the counts. Map-only
    * at scale. */
  private val q45: Q = (s, d) =>
    t(s, d, "documents")
      .select(
        col("doc_id"),
        concat(
          col("text"), lit(" contact "), col("source"),
          col("doc_id").cast("string"), lit("@ex-mail.com or +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" today")).as("raw"))
      .withColumn("n_emails",
        size(expr("regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}', 0)")).cast("long"))
      .withColumn("n_phones",
        size(expr("regexp_extract_all(raw, '\\\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', 0)")).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(col("raw"),
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}", "<PHONE>"))
      .select(
        col("doc_id"), col("n_emails"), col("n_phones"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")

  private val q45Sql =
    """WITH r AS (
      |  SELECT doc_id,
      |    text || ' contact ' || source || CAST(doc_id AS VARCHAR) ||
      |    '@ex-mail.com or +1-555-' ||
      |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(raw, '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      |  md5(regexp_replace(
      |        regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |        '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Repetition / vocabulary-diversity statistics — the Gopher/C4-style
    * quality-filter signals (distinct-word fraction, most-frequent-word
    * fraction) a corpus filter thresholds on before training (absent from
    * the reference; complements q19's length/punct score). Shape: explode
    * → per-(doc,word) counts → per-doc aggregate — two partial-agg
    * shuffles keyed by doc, linear at any corpus size; fractions are
    * 4dp-rounded double divisions of exact integer counts, identical in
    * both engines (the q41 rounding discipline). */
  private val q46: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("wc"))
      .groupBy("doc_id")
      .agg(
        sum("wc").cast("long").as("word_count"),
        count(lit(1)).as("distinct_words"),
        max("wc").cast("long").as("top_word_count"))
      .select(
        col("doc_id"), col("word_count"), col("distinct_words"),
        col("top_word_count"),
        round(col("distinct_words").cast("double") / col("word_count"), 4)
          .as("distinct_frac"),
        round(col("top_word_count").cast("double") / col("word_count"), 4)
          .as("top_word_frac"))
      .orderBy("doc_id")

  private val q46Sql =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |wc AS (
      |  SELECT doc_id, word, count(*) AS wc FROM w WHERE word <> ''
      |  GROUP BY doc_id, word),
      |agg AS (
      |  SELECT doc_id, CAST(sum(wc) AS BIGINT) AS word_count,
      |    count(*) AS distinct_words, CAST(max(wc) AS BIGINT) AS top_word_count
      |  FROM wc GROUP BY doc_id)
      |SELECT doc_id, word_count, distinct_words, top_word_count,
      |  round(CAST(distinct_words AS DOUBLE) / word_count, 4) AS distinct_frac,
      |  round(CAST(top_word_count AS DOUBLE) / word_count, 4) AS top_word_frac
      |FROM agg ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Corpus-level top-k n-gram counts — the vocabulary/n-gram census a
    * training pipeline runs for tokenizer and contamination analysis:
    * per-doc bigram generation with an array HOF (map-only, no explode of
    * unigrams), one partial-agg count shuffle keyed by bigram, global
    * top-20 with a bigram tiebreak. At 100 TB the same plan holds — the
    * bigram key space, not the corpus, bounds the reduce side. */
  private val q47: Q = (s, d) =>
    t(s, d, "documents")
      .select(split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))"))
        .as("bigram"))
      .where(!col("bigram").contains("  ") && !col("bigram").startsWith(" ") && !col("bigram").endsWith(" "))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)

  private val q47Sql =
    """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents WHERE len(string_split(text,' ')) >= 2),
      |b AS (
      |  SELECT unnest(list_transform(generate_series(1, len(w)-1),
      |                 i -> w[i] || ' ' || w[i+1])) AS bigram
      |  FROM w)
      |SELECT bigram, count(*) AS cnt FROM b
      |WHERE bigram NOT LIKE '%  %' AND bigram NOT LIKE ' %' AND bigram NOT LIKE '% '
      |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Deterministic stratified train/val/test split — reproducible
    * hash-threshold assignment (the reference's 0.8 train split,
    * create_entity_prior.py:32, generalized to strata): bucket =
    * md5-derived 32-bit hash of the doc id mod 100, <80 train / <90 val /
    * else test, counted per (source, split). Pure map + one partial-agg
    * shuffle; the md5 hash family is the engine-portable OracleHash
    * discipline, so DuckDB recomputes every assignment. */
  private val q48: Q = (s, d) =>
    t(s, d, "documents")
      .withColumn("bucket",
        (expr("conv(substring(md5(cast(doc_id AS string)), 1, 8), 16, 10)")
          .cast("long") % 100).cast("long"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("source", "split")

  private val q48Sql =
    """WITH b AS (
      |  SELECT source,
      |    (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 100 AS bucket
      |  FROM documents)
      |SELECT source,
      |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
      |  count(*) AS cnt
      |FROM b GROUP BY 1, 2 ORDER BY source, split""".stripMargin

  // ---------------------------------------------------------------- q49
  /** HyperLogLog-style distinct-vocabulary estimate per source — the
    * distributed cardinality sketch (Flajolet et al.) built from
    * COMPOSITION (the brief's preferred custom-operator path) on the
    * engine-portable md5 hash family: 64 registers, bucket = h mod 64,
    * rank = leading zeros of the remaining 26 bits + 1, register = max
    * rank (order-free → any partitioning/merge order yields identical
    * registers, which is why HLL distributes). The raw estimate
    * 0.709·m²/Σ2^(−M_j) uses only exact powers of two (Σ of ≤64 exact
    * doubles with ≤27-bit exponent spread is EXACT), so DuckDB reproduces
    * the estimate bit-for-bit — unlike approx_count_distinct, whose
    * engine-private sketch cannot be cross-checked. Exact distinct is
    * emitted alongside as the accuracy witness. Map + one (source,bucket)
    * partial-agg shuffle at scale. */
  private val q49: Q = (s, d) => {
    val words = t(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
    val hashed = words.withColumn("h",
      expr("conv(substring(md5(word), 1, 8), 16, 10)").cast("long"))
    val regs = hashed
      .withColumn("bucket", col("h") % 64)
      .withColumn("w", floor(col("h") / 64).cast("long"))
      .withColumn("rank",
        when(col("w") === 0L, lit(27L))
          .otherwise(lit(27L) - length(expr("bin(w)")).cast("long")))
      .groupBy("source", "bucket")
      .agg(max("rank").as("m"))
    val allBuckets = t(s, d, "documents").select("source").distinct()
      .select(col("source"), explode(expr("sequence(0L, 63L)")).as("bucket")) // map-side literal domain, no join
    val full = allBuckets.join(regs, Seq("source", "bucket"), "left")
      .withColumn("m", coalesce(col("m"), lit(0L)))
    val est = full.groupBy("source")
      .agg(sum(pow(lit(2.0), -col("m"))).as("z"))
      .select(col("source"),
        round(lit(0.709 * 64 * 64) / col("z"), 2).as("hll_estimate"))
    val exact = words.groupBy("source")
      .agg(countDistinct("word").cast("long").as("exact_distinct"))
    est.join(exact, "source")
      .select("source", "hll_estimate", "exact_distinct")
      .orderBy("source")
  }

  private val q49Sql =
    """WITH w AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
      |h AS (
      |  SELECT source, word,
      |    (('0x' || substring(md5(word), 1, 8))::BIGINT) AS h
      |  FROM w WHERE word <> ''),
      |r AS (
      |  SELECT source, h % 64 AS bucket,
      |    CASE WHEN h // 64 = 0 THEN 27
      |         ELSE 27 - length(bin(h // 64)) END AS rank
      |  FROM h),
      |regs AS (SELECT source, bucket, max(rank) AS m FROM r GROUP BY 1, 2),
      |dom AS (
      |  SELECT DISTINCT d.source, gs.b AS bucket
      |  FROM documents d CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) gs),
      |full_regs AS (
      |  SELECT dom.source, dom.bucket, coalesce(regs.m, 0) AS m
      |  FROM dom LEFT JOIN regs USING (source, bucket)),
      |est AS (
      |  SELECT source, round(0.709 * 64 * 64 / sum(power(2.0, -m)), 2) AS hll_estimate
      |  FROM full_regs GROUP BY source),
      |ex AS (
      |  SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS exact_distinct
      |  FROM w WHERE word <> '' GROUP BY source)
      |SELECT source, hll_estimate, exact_distinct
      |FROM est JOIN ex USING (source) ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q50
  /** Exact per-source length quantiles (p50/p90/p99 of n_chars) — the
    * corpus length-distribution report a filtering pipeline thresholds
    * from. EXACT discrete quantiles (value at rank ceil(p·n/100), pure
    * integer rank arithmetic) rather than percentile_approx: the approx
    * sketch is engine-private and unverifiable cross-engine, while the
    * exact form is a per-source window sort — partitioned by source, no
    * global window, the at-scale shape. */
  private val q50: Q = (s, d) => {
    val ranked = t(s, d, "documents")
      .select(col("source"), col("n_chars"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("n_chars")).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
    // Column `/` is DOUBLE division in Spark — the rank comparison needs
    // integer `div` to stay the exact ceil(p·n/100) both engines compute
    ranked.groupBy("source")
      .agg(
        max("n").cast("long").as("n_docs"),
        max(when(col("rn") === expr("(n * 50 + 99) div 100"), col("n_chars"))).as("p50"),
        max(when(col("rn") === expr("(n * 90 + 99) div 100"), col("n_chars"))).as("p90"),
        max(when(col("rn") === expr("(n * 99 + 99) div 100"), col("n_chars"))).as("p99"))
      .orderBy("source")
  }

  private val q50Sql =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars) AS BIGINT) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM documents)
      |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
      |  max(CASE WHEN rn = (n * 50 + 99) // 100 THEN n_chars END) AS p50,
      |  max(CASE WHEN rn = (n * 90 + 99) // 100 THEN n_chars END) AS p90,
      |  max(CASE WHEN rn = (n * 99 + 99) // 100 THEN n_chars END) AS p99
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Day-over-day user retention — the cohort shape (self-join on a
    * time-shifted key) events analytics needs and nothing in q37-q43
    * exercises: per day, distinct active users and the fraction still
    * active the NEXT day. Distinct per (day,user) first (one partial-agg
    * shuffle), then the shifted self-join runs on the already-reduced
    * daily table keyed by user — at scale the join input is |users|·days,
    * not |events|. Day rendered as string and rate as 4dp-rounded double
    * division of exact counts (engine-neutral, the q42/q46 discipline). */
  private val q51: Q = (s, d) => {
    val daily = t(s, d, "events")
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val nextDay = daily.select(
      date_sub(col("day"), 1).as("day"), col("user_id").as("u2"))
    val retained = daily
      .join(nextDay, daily("day") === nextDay("day") &&
        col("user_id") === col("u2"))
      .groupBy(daily("day")).agg(count(lit(1)).as("retained"))
    val active = daily.groupBy("day").agg(count(lit(1)).as("active"))
    active.join(retained, Seq("day"), "left")
      .withColumn("retained", coalesce(col("retained"), lit(0L)))
      .select(
        col("day").cast("string").as("day"),
        col("active"), col("retained"),
        round(col("retained").cast("double") / col("active"), 4).as("retention"))
      .orderBy("day")
  }

  private val q51Sql =
    """WITH daily AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |ret AS (
      |  SELECT a.day, count(*) AS retained
      |  FROM daily a JOIN daily b
      |    ON b.user_id = a.user_id AND b.day = a.day + INTERVAL 1 DAY
      |  GROUP BY a.day),
      |act AS (SELECT day, count(*) AS active FROM daily GROUP BY day)
      |SELECT CAST(act.day AS VARCHAR) AS day, active,
      |  coalesce(retained, 0) AS retained,
      |  round(CAST(coalesce(retained, 0) AS DOUBLE) / active, 4) AS retention
      |FROM act LEFT JOIN ret ON ret.day = act.day
      |ORDER BY day""".stripMargin

  // ---------------------------------------------------------------- q52
  /** AS-OF JOIN — the canonical time-series operator Spark has no native
    * node for (the brief's "as-of join" extension). Each event is joined
    * to the most recent hourly "quote" (first event of the hour per type)
    * with quote_ts <= event ts, within its event_type.
    *
    * 100-TB shape: the naive form is a range join (BroadcastNestedLoop /
    * O(|events|x|quotes|)). This implementation never range-joins: it
    * UNIONs the (pre-reduced, one-row-per-hour) quote stream into the
    * event stream and carries the last quote forward with ONE window
    * partitioned by event_type ordered by (ts, kind) — the same
    * merge-and-sweep an MPP engine's ASOF physical operator does, at
    * sort-shuffle cost, with no pair explosion. At larger scale the
    * partition key widens to (event_type, day) with boundary-quote
    * seeding; same plan shape. The DuckDB oracle uses its native
    * ASOF JOIN, so the semantics are pinned engine-independently. */
  private val q52: Q = (s, d) => {
    val ev = t(s, d, "events")
    val hourW = Window
      .partitionBy(col("event_type"), date_trunc("hour", col("ts")))
      .orderBy(col("ts"), col("event_id"))
    val quotes = ev
      .withColumn("rn", row_number().over(hourW))
      .where(col("rn") === 1)
      .select(
        col("event_type"),
        date_trunc("hour", col("ts")).as("qts"),
        col("value").cast(DecimalType(18, 2)).as("qval"))
    val evTagged = ev.select(
      col("event_type"), col("ts"), lit(1).as("kind"), col("event_id"),
      lit(null).cast("timestamp").as("qts0"),
      lit(null).cast(DecimalType(18, 2)).as("qval0"))
    val qTagged = quotes.select(
      col("event_type"), col("qts").as("ts"), lit(0).as("kind"),
      lit(null).cast("long").as("event_id"),
      col("qts").as("qts0"), col("qval").as("qval0"))
    // kind sorts the quote BEFORE any event at the identical timestamp:
    // ASOF's `e.ts >= q.qts` is inclusive
    val sweep = Window.partitionBy("event_type")
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    evTagged.unionByName(qTagged)
      .withColumn("qts", last(col("qts0"), ignoreNulls = true).over(sweep))
      .withColumn("qval", last(col("qval0"), ignoreNulls = true).over(sweep))
      .where(col("kind") === 1)
      .select(
        col("event_id"), col("event_type"),
        unix_timestamp(col("qts")).cast("long").as("quote_bucket"),
        col("qval").cast("string").as("quote_value"))
      .orderBy("event_id")
  }

  private val q52Sql =
    """WITH quotes AS (
      |  SELECT event_type, date_trunc('hour', ts) AS qts,
      |         CAST(value AS DECIMAL(18,2)) AS qval
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY event_type, date_trunc('hour', ts)
      |          ORDER BY ts, event_id) AS rn FROM events)
      |  WHERE rn = 1)
      |SELECT e.event_id, e.event_type,
      |  CAST(epoch(q.qts) AS BIGINT) AS quote_bucket,
      |  CAST(q.qval AS VARCHAR) AS quote_value
      |FROM events e ASOF JOIN quotes q
      |  ON e.event_type = q.event_type AND e.ts >= q.qts
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Iterative PageRank (5 unrolled rounds) over the bipartite
    * order<->part graph from lineitem — the iterative-join graph operator
    * beyond q29's connected components (X2). All arithmetic is exact
    * BIGINT micro-rank units (rank_0 = 1e6; contribution = pr div deg;
    * damping new = 150000 + (850000*sum) div 1e6): integer sums are
    * order-free, so the result is bit-identical across engines and
    * partitionings — a float PageRank would diverge in the 16th digit on
    * every reshuffle. The DuckDB oracle unrolls the same five rounds as
    * CTEs (generated from the same Scala loop, so they cannot drift).
    *
    * 100-TB shape: one distinct-pair shuffle to build edges, then per
    * round one join ranks-to-edges (both sides hash-partitioned on the
    * same key — a real deployment persists edges+deg bucketed by src once
    * and reuses the partitioning every round, exactly like the CC
    * operator) and one sum shuffle by dst.
    *
    * The round loop runs on partitioner-reused RDDs (the CC operator's
    * pattern, ConnectedComponents.scala:40-63) rather than a DataFrame
    * loop: Catalyst cannot carry hash-partitioning knowledge across an
    * iterative self-reference — every localCheckpoint scan re-plans with
    * fresh Exchange+Sort pairs (measured: ~30 exchanges / 12.7 s warm for
    * the 5-round DataFrame form at sf0.1; explicit per-round broadcasts
    * are worse still, 10 sequential driver collects). RDD cogroup joins
    * are no better (3.3 s/round of ExternalAppendOnlyMap churn); instead
    * each round is two zipPartitions streams over the shared
    * HashPartitioner layout — build a per-partition hash map of the small
    * side (ranks: |nodes|/parts entries, the same memory bound as any
    * co-partitioned hash join's build side), stream the big side through
    * it — plus the round's ONE semantic shuffle, the (dst, contribution)
    * reduceByKey (measured 3.5 s warm for all 5 rounds at sf0.1, 4.3×
    * over the DataFrame loop). The contributions zip output is keyed by
    * dst while its partitions are laid out by src hash, so it must NOT
    * claim the src partitioner (preservesPartitioning=false, the
    * default): a false claim makes reduceByKey elide the shuffle
    * entirely and silently mis-aggregates — caught by the value-level
    * oracle when tried. Node ids are BIGINT (orderkey·2 / partkey·2+1),
    * not strings: the shuffled bytes are 16/row, and the tie-break order
    * is engine-independent integer order. Each ranks RDD is consumed by
    * exactly one downstream stage, so the 5-round lineage is linear and
    * needs no per-round persist; only links/deg (used every round) are
    * cached, and both are released before returning. The top-20 is a
    * bounded takeOrdered action (20 rows to the driver, q54's bounded-
    * scalar precedent), so the returned frame is a LocalRelation with no
    * live dependency on the loop's cached blocks. */
  private val q53: Q = (s, d) => {
    val pairs = t(s, d, "lineitem")
      .select(
        (col("l_orderkey").cast("long") * 2).as("o"),
        (col("l_partkey").cast("long") * 2 + 1).as("p"))
    import s.implicits._
    // Round partitions sized by EDGE VOLUME (the CC operator's rule via
    // IterativeLoop.roundPartitioner, VERDICT r05 #8 — the cores
    // heuristic is gone): ~32k directed-edge rows (~0.8 MB of
    // (long,long,long)) per round task, capped by the session width.
    // At sf0.1's ~1.2M directed edges this lands at ~38 partitions —
    // the measured q53 optimum band (32 partitions beat the session's
    // 96 by 35%; the 3× SQL fan-out exists for AQE coalescing, which a
    // fixed-size RDD loop re-pays as pure task overhead every round) —
    // and it GROWS with data volume instead of tracking local cores.
    // The sizing count comes from the parquet FOOTERS (pairs is a 1:1
    // projection of lineitem, so its row count is the table's row count)
    // — a driver-side metadata read instead of the 2-column scan job the
    // old pairs.count() paid; at 100 TB job sizing reads table metadata,
    // not the data (r07; same discipline as SnapshotStore's manifests).
    val nDirectedEdges =
      2L * graft.util.ParquetMeta.rowCount(s, s"$d/lineitem.parquet")
    val hp = graft.operators.IterativeLoop.roundPartitioner(
      nDirectedEdges, s.sparkContext.defaultParallelism, rowsPerTask = 32768L)
    // Pair dedup, degree counting and link building are FUSED into one
    // buffered pass over the ONE src-hash shuffle (r07; was three
    // partition-local passes — dedup, deg reduceByKey, links zip — each
    // re-reading the shuffle output or an intermediate): duplicates of an
    // ordered pair always share a src partition, so a per-partition
    // hash-set dedups while a local map accumulates degrees, and the
    // links (src -> (dst, deg)) emit straight from the buffer. The output
    // keeps src as the key, so preservesPartitioning's hp claim is honest
    // (same discipline IterativeLoopSpec pins).
    val links = pairs.as[(Long, Long)].rdd
      .flatMap { case (o, p) => Iterator((o, p), (p, o)) }
      .partitionBy(hp)
      .mapPartitions({ it =>
        val seen = new java.util.HashSet[(Long, Long)]()
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
        val degM = new java.util.HashMap[Long, Long]()
        it.foreach { e =>
          if (seen.add(e)) { buf += e; degM.merge(e._1, 1L, _ + _) }
        }
        buf.iterator.map { case (s, d2) => (s, (d2, degM.get(s).longValue())) }
      }, preservesPartitioning = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    // per-node degree table, derived partition-locally from the cached
    // links (keys unchanged -> the hp claim stays honest)
    val deg = links
      .mapPartitions({ it =>
        val m = new java.util.HashMap[Long, Long]()
        it.foreach { case (s, (_, dg)) => m.put(s, dg) }
        val entries = m.entrySet().iterator()
        new Iterator[(Long, Long)] {
          def hasNext = entries.hasNext
          def next() = { val e = entries.next(); (e.getKey, e.getValue) }
        }
      }, preservesPartitioning = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    var ranks = deg.mapValues(_ => 1000000L) // hp-partitioned
    for (_ <- 1 to 5) {
      // contributions are dst-keyed but src-laid-out: lookupJoin NEVER
      // claims hp, so the reduceByKey below pays its (semantically
      // required) shuffle — the partitioner-lie trap this used to
      // document in-line is now enforced by the shared helper
      // (IterativeLoop.lookupJoinSameKey validates claims per row).
      // getOrDefault, not get: ranks ⊇ deg keys holds today, but a
      // refactor of deg/ranks must not turn into an unboxing NPE.
      val sums = graft.operators.IterativeLoop
        .lookupJoin(links, ranks, hp) { (l, rk) =>
          Iterator((l._2._1, rk.getOrDefault(l._1, 0L) / l._2._2))
        }
        .reduceByKey(hp, _ + _) // the round's ONE shuffle
      ranks = graft.operators.IterativeLoop
        .lookupJoinSameKey(deg, sums, hp) { (dn, sm) =>
          // absent key = isolated node at floor
          Iterator((dn._1, 150000L + (850000L * sm.getOrDefault(dn._1, 0L)) / 1000000L))
        }
    }
    val top = ranks
      .takeOrdered(20)(Ordering.by { case (node, pr) => (-pr, node) })
      .map { case (node, pr) => (node, pr) }
    links.unpersist(blocking = true)
    deg.unpersist(blocking = true)
    s.createDataFrame(top.toSeq).toDF("node", "pr")
  }

  private lazy val q53Sql = {
    val base =
      """WITH pairs AS (
        |  SELECT DISTINCT CAST(l_orderkey AS BIGINT) * 2 AS o,
        |                  CAST(l_partkey AS BIGINT) * 2 + 1 AS p
        |  FROM lineitem),
        |edges AS (SELECT o AS src, p AS dst FROM pairs
        |          UNION ALL SELECT p AS src, o AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg)""".stripMargin
    val iters = (1 to 5).map { k =>
      s"""r$k AS (
         |  SELECT n.node,
         |    CAST(150000 + (850000 * coalesce(s.c, 0)) // 1000000 AS BIGINT) AS pr
         |  FROM (SELECT node FROM r0) n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.pr // dg.deg) AS c
         |    FROM edges e
         |    JOIN r${k - 1} r ON r.node = e.src
         |    JOIN deg dg ON dg.src = e.src
         |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
    }
    (base +: iters).mkString(",\n") +
      "\nSELECT node, pr FROM r5 ORDER BY pr DESC, node LIMIT 20"
  }

  // ---------------------------------------------------------------- q54
  /** Per-document keyword top-k (tf/df ranking) — keyword extraction over
    * the documents table: tokenize, term frequency per doc, document
    * frequency per term, drop corpus-stopwords (df > 20% of docs), rank
    * each doc's terms by (tf DESC, df ASC, term ASC), keep top 3. The
    * ranking key is (tf, df, term) — all integers/strings — deliberately
    * instead of a float tf*ln(N/df) score: ln() ULP differences between
    * engines would make the ORDER itself nondeterministic, while the
    * integer key is the same ranking for any monotone idf.
    *
    * 100-TB shape: tokenize+explode is map-side; one (doc,term) partial
    * -agg shuffle; one term-level df shuffle over the (much smaller)
    * distinct (doc,term) table; the tf-df join shuffles on term (both
    * sides already reduced); final top-k is a window partitioned by
    * doc_id — never a global sort. The corpus size is ONE bounded scalar,
    * taken as a driver-side count() action (map-side partials + tiny
    * final reduce, same pattern as q43's year domain) rather than
    * crossJoin-ing a 1-row aggregate into the plan — that form plans a
    * BroadcastNestedLoopJoin plus a single-partition Exchange, both
    * banned by PlanGuardSpec. */
  private val q54: Q = (s, d) => {
    val docs = t(s, d, "documents")
    // r07: the corpus size comes from the parquet footers (driver-side
    // metadata, exact) instead of a count() scan job — table row counts
    // are metadata at any scale (SnapshotStore's manifest discipline)
    val ndocs = graft.util.ParquetMeta.rowCount(s, s"$d/documents.parquet")
    val terms = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .where(length(col("term")) >= 3)
    // r07: tf feeds BOTH the df aggregation and the tf⋈df join —
    // localCheckpoint it so the scan→explode→(doc,term) aggregation runs
    // once instead of twice (the join side used to re-derive the whole
    // subtree; at 100 TB this materialized tf table is the classic
    // two-pass tf-idf intermediate).
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val rankW = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df"), col("term"))
    tf.join(df, "term")
      .where(col("df") * 5 <= lit(ndocs))
      .withColumn("rk", row_number().over(rankW).cast("long"))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"))
      .orderBy("doc_id", "rk")
  }

  private val q54Sql =
    """WITH terms AS (
      |  SELECT doc_id, t.term FROM documents,
      |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
      |  WHERE length(t.term) >= 3),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n FROM documents),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, df.df, tf.term) AS rk
      |  FROM tf JOIN df USING (term), n
      |  WHERE df.df * 5 <= n.n)
      |SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df
      |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---------------------------------------------------------------- q55
  /** Rolling-hash document fingerprinting (the brief's named text-analysis
    * op): 8-char shingles of the first 512 chars, polynomial Rabin-Karp
    * hash (base 257 mod 2^31-1, Horner with mod at every step so no
    * intermediate exceeds 2^40), keep hashes ≡ 0 (mod 64) — a 1/64
    * winnowing-style sample — and aggregate per doc: shingle count,
    * selected-fingerprint count, distinct fingerprints, min fingerprint.
    * The hash arithmetic lives in exactly two places pinned to each
    * other: the SQL expression string generated ONCE ([[rollHashSql]],
    * parsed by DuckDB) and the native `graft_rolling_fp` expression
    * (value-identical per gram, asserted in GraftExpressionsSpec).
    *
    * The Spark side runs the native expression — one codegen'd pass per
    * document emitting the winnowed array — then per-doc ARRAY algebra
    * (size / array_distinct / array_min), no explode and no shuffle at
    * all beyond the final orderBy: the exploded form re-cut the gram
    * with an O(position) UTF8String substring per character once the
    * winnow predicate was pushed below the projection (see
    * [[winnowedFps]]), ~8× the honest cost.
    *
    * 100-TB shape: fully map-side per-document work; the 512-char cap
    * bounds the per-row cost (≤505 shingles), and the mod-64 selection
    * is exactly how production fingerprint sets (MOSS/winnowing) stay
    * sub-linear in document length. */
  private def rollHashSql(gram: String): String =
    (2 to 8).foldLeft(s"CAST(ascii(substring($gram,1,1)) AS BIGINT)") {
      (acc, i) => s"(($acc * 257 + ascii(substring($gram,$i,1))) % 2147483647)"
    }

  private val q55: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 512).as("s"))
      .where(length(col("s")) >= 8) // sub-8-char docs have no shingles
      .select(col("doc_id"),
        (length(col("s")) - 7).cast("long").as("n_shingles"),
        expr("graft_rolling_fp(s)").as("fps"))
      .select(col("doc_id"), col("n_shingles"),
        size(col("fps")).cast("long").as("n_fp"),
        size(array_distinct(col("fps"))).cast("long").as("distinct_fp"),
        coalesce(array_min(col("fps")), lit(-1L)).as("min_fp"))
      .orderBy("doc_id")

  private lazy val q55Sql =
    s"""WITH grams AS (
       |  SELECT doc_id, substring(s, CAST(i AS INTEGER), 8) AS g
       |  FROM (SELECT doc_id, substring(text, 1, 512) AS s,
       |          unnest(range(1, greatest(length(substring(text, 1, 512)) - 6, 1))) AS i
       |        FROM documents)),
       |hashed AS (SELECT doc_id, ${rollHashSql("g")} AS h FROM grams)
       |SELECT doc_id,
       |  count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN h % 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
       |  count(DISTINCT CASE WHEN h % 64 = 0 THEN h END) AS distinct_fp,
       |  coalesce(min(CASE WHEN h % 64 = 0 THEN h END), -1) AS min_fp
       |FROM hashed GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q56
  /** Bucketized RANGE JOIN (interval containment — the brief's "range
    * join"): 25 deterministic 36-hour campaign windows (one per nation,
    * staggered 6h from the corpus min-ts) joined to every event whose ts
    * falls inside, counting events and summing value per window.
    *
    * 100-TB shape: the naive plan is BroadcastNestedLoopJoin on the theta
    * predicate — O(|events| * |intervals|) comparisons. This
    * implementation EQUI-joins instead: each interval is exploded into
    * its covered hour buckets (bounded: 37 rows per interval), events
    * map to their hour bucket, the join is a plain hash join on bucket,
    * and the exact [start,end) check runs post-join on the tiny matched
    * set. That is the standard bucketized range-join rewrite (Spark has
    * no IEJoin); the bucket width tracks the interval granularity, so
    * the candidate blowup is O(matches), not O(cross). DuckDB's oracle
    * uses its native inequality join on the same intervals. The corpus
    * min-ts anchor is ONE bounded scalar taken as a driver-side action
    * (at real scale it comes free from parquet column stats) — inlining
    * the 1-row aggregate via crossJoin would plan a
    * BroadcastNestedLoopJoin + single-partition Exchange, both banned by
    * PlanGuardSpec. */
  private val q56: Q = (s, d) => {
    val ev = t(s, d, "events")
    val minTs = ev.agg(min(col("ts"))).head.get(0) // LocalDateTime (java8 API)
    val intervals = t(s, d, "nation")
      .withColumn("m", lit(minTs))
      .select(
        col("n_nationkey").cast("long").as("iid"),
        expr("timestampadd(HOUR, 6 * n_nationkey, m)").as("start"),
        expr("timestampadd(HOUR, 6 * n_nationkey + 36, m)").as("end"))
    val buckets = intervals.select(
      col("iid"), col("start"), col("end"),
      explode(expr(
        "sequence(date_trunc('hour', start), date_trunc('hour', end), interval 1 hour)"))
        .as("bucket"))
    val matched = ev
      .withColumn("bucket", date_trunc("hour", col("ts")))
      .join(broadcast(buckets), "bucket")
      .where(col("ts") >= col("start") && col("ts") < col("end"))
      .groupBy("iid")
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv"))
    intervals.select("iid")
      .join(matched, Seq("iid"), "left")
      .select(
        col("iid"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("sv"), lit(0).cast(DecimalType(18, 2)))
          .cast("string").as("sum_value"))
      .orderBy("iid")
  }

  private val q56Sql =
    """WITH m AS (SELECT min(ts) AS m FROM events),
      |intervals AS (
      |  SELECT CAST(n_nationkey AS BIGINT) AS iid,
      |    m.m + n_nationkey * INTERVAL 6 HOUR AS st,
      |    m.m + (n_nationkey * 6 + 36) * INTERVAL 1 HOUR AS en
      |  FROM nation, m)
      |SELECT i.iid,
      |  count(e.event_id) AS cnt,
      |  CAST(coalesce(sum(CAST(e.value AS DECIMAL(18,2))),
      |                CAST(0 AS DECIMAL(18,2))) AS VARCHAR) AS sum_value
      |FROM intervals i
      |LEFT JOIN events e ON e.ts >= i.st AND e.ts < i.en
      |GROUP BY i.iid ORDER BY i.iid""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Sorted-neighborhood blocking (Hernández/Stolfo merge-purge) — the
    * classic ER blocking family the LSH path (q27) doesn't cover: sort
    * documents by a normalized key, pair each with its next w-1=2
    * neighbors in sort order, score each pair with the exact integer
    * Levenshtein distance of the keys.
    *
    * 100-TB shape: the sort is PARTITIONED sorted-neighborhood — the
    * 2-char key prefix is the distribution key, the window sorts only
    * within a prefix, so no global sort and no single-partition window.
    * Cross-prefix boundary pairs are the standard blocked-SNM blind spot,
    * recovered in production by the standard multi-pass remedy (a second
    * sweep under a rotated key), not by widening the window; the prefix
    * length is the scale dial (2 chars ~1.3k partitions; 3-4 chars at
    * 100 TB). Pair generation is lead()-based: map-side after the one
    * prefix shuffle, output O(w*n), never a self-join. */
  private val q57: Q = (s, d) => {
    val keyed = t(s, d, "documents")
      .select(
        col("doc_id"),
        expr("substring(regexp_replace(lower(text), '[^a-z0-9]', ''), 1, 20)")
          .as("snkey"))
      .withColumn("pfx", expr("substring(snkey, 1, 2)"))
    val w = Window.partitionBy("pfx").orderBy(col("snkey"), col("doc_id"))
    keyed
      .withColumn("nb", array(
        struct(
          lead(col("doc_id"), 1).over(w).as("b_id"),
          lead(col("snkey"), 1).over(w).as("b_key")),
        struct(
          lead(col("doc_id"), 2).over(w).as("b_id"),
          lead(col("snkey"), 2).over(w).as("b_key"))))
      .select(col("pfx"), col("doc_id").as("a_id"), col("snkey"),
        explode(col("nb")).as("nb"))
      .where(col("nb.b_id").isNotNull)
      .select(
        col("pfx"), col("a_id"), col("nb.b_id").as("b_id"),
        levenshtein(col("snkey"), col("nb.b_key")).cast("long").as("key_dist"))
      .orderBy("pfx", "a_id", "b_id")
  }

  private val q57Sql =
    """WITH k AS (
      |  SELECT doc_id,
      |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 20) AS snkey
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, snkey, substring(snkey, 1, 2) AS pfx,
      |    lead(doc_id, 1) OVER w AS b1, lead(snkey, 1) OVER w AS k1,
      |    lead(doc_id, 2) OVER w AS b2, lead(snkey, 2) OVER w AS k2
      |  FROM k
      |  WINDOW w AS (PARTITION BY substring(snkey, 1, 2) ORDER BY snkey, doc_id)),
      |pairs AS (
      |  SELECT pfx, doc_id AS a_id, b1 AS b_id,
      |    CAST(levenshtein(snkey, k1) AS BIGINT) AS key_dist
      |  FROM p WHERE b1 IS NOT NULL
      |  UNION ALL
      |  SELECT pfx, doc_id AS a_id, b2 AS b_id,
      |    CAST(levenshtein(snkey, k2) AS BIGINT) AS key_dist
      |  FROM p WHERE b2 IS NOT NULL)
      |SELECT pfx, a_id, b_id, key_dist FROM pairs
      |ORDER BY pfx, a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Blocking audit — the skew/efficiency metrics an ER deployment watches
    * per run, over all three blocking families the engine implements:
    * exact normalized key, sorted-neighborhood 2-char prefix (q57's
    * distribution key), and MinHash-LSH band keys (q27's machinery,
    * oracle-recomputed from the md5 hash family). Per family: block
    * count, max block size, singleton blocks, generated candidate pairs
    * sum(s*(s-1)/2) (pre-dedup for LSH, as blocking-quality literature
    * counts them), against the corpus total-pair denominator — the
    * reduction-ratio numerator/denominator as exact BIGINTs (no
    * cross-engine float division).
    *
    * 100-TB shape: each family is one partial-agg shuffle over its
    * (already tiny) block-size table, the three are unioned and reduced
    * grouped BY FAMILY — no global scalar aggregate, so no
    * single-partition exchange; the corpus count is the bounded
    * driver-side scalar action (q54's pattern). This is exactly the
    * counter set a lineage/metrics sidecar publishes per pipeline stage. */
  private val q58: Q = (s, d) => {
    val docs = t(s, d, "documents")
    // r07: footer-metadata row count (exact) instead of a count() scan job
    val n = graft.util.ParquetMeta.rowCount(s, s"$d/documents.parquet")
    def stats(df: org.apache.spark.sql.DataFrame, family: String) =
      df.groupBy("bk").agg(count(lit(1)).as("sz"))
        .select(lit(family).as("family"), col("sz"))
    // r07: the SNM-prefix histogram is DERIVED from the exact-key
    // histogram (a doc's 2-char prefix block is determined by its exact
    // key, so summing exact block sizes by key prefix IS the prefix
    // histogram) — the second full-text regexp_replace pass over every
    // document is gone, and the two families share one exchange (the
    // identical scan→normalize→shuffle-by-bk subtree is deduplicated by
    // ReusedExchange; guide §2.4). Values are unchanged by construction.
    val exactHist = docs.select(
      expr("regexp_replace(lower(text), '[^a-z0-9]', '')").as("bk"))
      .groupBy("bk").agg(count(lit(1)).as("sz"))
    val exact = exactHist.select(lit("exact").as("family"), col("sz"))
    val snm = exactHist
      .groupBy(expr("substring(bk, 1, 2)").as("pfx"))
      .agg(sum("sz").as("sz"))
      .select(lit("snm_prefix").as("family"), col("sz"))
    val lsh = {
      import s.implicits._
      stats(bandEntries(s, d).toDF("bk", "doc_id").select("bk"), "minhash_lsh")
    }
    exact.unionByName(snm).unionByName(lsh)
      .groupBy("family")
      .agg(
        count(lit(1)).as("n_blocks"),
        max("sz").as("max_block"),
        sum(when(col("sz") === 1, 1L).otherwise(0L)).as("singleton_blocks"),
        sum(expr("sz * (sz - 1) div 2")).as("cand_pairs"))
      .withColumn("total_pairs", lit(n * (n - 1) / 2))
      .orderBy("family")
  }

  private lazy val q58Sql =
    s"""WITH $minHashCtes,
       |nk AS (
       |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS k
       |  FROM documents),
       |fams AS (
       |  SELECT 'exact' AS family, count(*) AS sz FROM nk GROUP BY k
       |  UNION ALL
       |  SELECT 'snm_prefix' AS family, count(*) AS sz
       |  FROM nk GROUP BY substring(k, 1, 2)
       |  UNION ALL
       |  SELECT 'minhash_lsh' AS family, count(*) AS sz
       |  FROM keys GROUP BY band_key)
       |SELECT family,
       |  count(*) AS n_blocks,
       |  max(sz) AS max_block,
       |  CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singleton_blocks,
       |  CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS cand_pairs,
       |  (SELECT CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) FROM documents) AS total_pairs
       |FROM fams GROUP BY family ORDER BY family""".stripMargin

  // ------------------------------------------------------------ q59-q61
  /** Distinct winnowed (doc_id, fingerprint) table — q55's 8-char rolling
    * hash over the first 512 chars with mod-64 winnowing-style selection,
    * deduplicated per document. Shared by q59 (duplicated passages) and
    * q60 (decontamination); [[fpCtes]] is the DuckDB mirror, built from
    * the same [[rollHashSql]] expression string, and the native
    * `graft_rolling_fp` expression is pinned value-identical to that
    * formula (GraftExpressionsSpec), so the arithmetic cannot drift
    * between engines.
    *
    * Fingerprinting runs through the native expression — one codegen'd
    * pass per document emitting only the 1/64 winnowed skim — because
    * the exploded-SQL form was a measured scale trap: Catalyst pushes
    * the `h % 64 = 0` winnow below the gram projection, inlining the
    * polynomial hash as nested `substring(substring(s,i,8),k,1)` calls
    * whose inner gram copy is re-cut per character (an O(position)
    * UTF8String codepoint scan each), turning 5k docs into ~12 s at
    * sf0.1; the expression does the same arithmetic over the codepoint
    * array in ~0.3 s. The result is localCheckpoint()ed: both consumers
    * reference the fps table 2-4 times (count-filter + both sides of
    * the pair join; eval + train slices) — at 100 TB this materialized
    * skim is the "fingerprint index" a dedup pipeline persists once and
    * reuses across audits, not a per-query luxury. */
  /** Memoized per (session, dir) — ADVICE r05: each q59/q60/q63/q67
    * execution used to checkpoint a fresh copy and never unpersist,
    * pinning cached RDD blocks until GC-driven ContextCleaner cleanup
    * within a shared catalog session. Entries for stopped sessions are
    * evicted lazily on the next call; live sessions share one skim —
    * which is also the honest 100-TB shape (one persisted fingerprint
    * index reused across audits). */
  private val fpsCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def winnowedFps(s: SparkSession, d: String): DataFrame = {
    fpsCache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    fpsCache.computeIfAbsent((s, d), _ =>
      graft.operators.FingerprintDedup.skim(t(s, d, "documents"))
        .localCheckpoint())
  }

  private lazy val fpCtes: String =
    s"""s0 AS (SELECT doc_id, substring(text, 1, 512) AS s FROM documents),
       |grams AS (
       |  SELECT doc_id, substring(s, CAST(i AS INTEGER), 8) AS g
       |  FROM (SELECT doc_id, s,
       |          unnest(range(1, greatest(length(s) - 6, 1))) AS i FROM s0)),
       |fps AS (
       |  SELECT DISTINCT doc_id, h
       |  FROM (SELECT doc_id, ${rollHashSql("g")} AS h FROM grams)
       |  WHERE h % 64 = 0)""".stripMargin

  // ---------------------------------------------------------------- q59
  /** Cross-document duplicated-passage detection — the exact-substring
    * dedup family (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): two documents sharing ≥2 distinct winnowed
    * 8-gram fingerprints have verbatim copied passages, which survives
    * MinHash (q27: whole-doc similarity) and SimHash (q28) when the
    * copied span is a small fraction of each document. Fingerprints in
    * >50 documents are dropped as boilerplate — the stop-fingerprint
    * analog of q27's stop-block cap.
    *
    * 100-TB shape: fingerprinting is map-side; one (doc,h) distinct
    * shuffle; the per-h document count is a partial-agg over the
    * already-winnowed (1/64) table; the pair join is blocked BY
    * FINGERPRINT with the ≤50-doc cap, so each block yields ≤C(50,2)
    * pairs — never a doc×doc self-join — and the final per-pair count is
    * one shuffle over shared-fingerprint rows only. */
  /** The capped duplicated-passage pair set — SHARED by q59 (reporting)
    * and q63 (clustering input), so the join economics are one code path:
    * per-fingerprint doc count capped to 2..50 (stop-fingerprint rule),
    * pair join blocked BY FINGERPRINT (≤C(50,2) pairs per block, never
    * doc×doc), pairs kept at ≥2 shared fingerprints. PlanGuardSpec pins
    * the cap filter and the h-keyed join on q59's plan; q63 inherits the
    * shape by construction. */
  private def cappedDupPairs(s: SparkSession, d: String): DataFrame =
    graft.operators.FingerprintDedup.cappedPairs(winnowedFps(s, d))

  private val q59: Q = (s, d) =>
    cappedDupPairs(s, d)
      .select(col("src").as("a_id"), col("dst").as("b_id"),
        col("sfp").as("shared_fp"))
      .orderBy("a_id", "b_id")

  private lazy val q59Sql =
    s"""WITH $fpCtes,
       |hc AS (SELECT h FROM fps GROUP BY h
       |       HAVING count(*) BETWEEN 2 AND 50),
       |bl AS (SELECT doc_id, h FROM fps JOIN hc USING (h))
       |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared_fp
       |FROM bl a JOIN bl b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q60
  /** Eval-set decontamination — the benchmark-overlap check every LLM
    * training pipeline runs before a corpus ships (GPT-3 §5 / PaLM-style
    * n-gram collision): a deterministic 1/97 slice of the corpus plays
    * the held-out benchmark, and every TRAINING document sharing ≥1
    * winnowed 8-gram fingerprint with it is flagged with its collision
    * count, ordered by doc_id.
    *
    * 100-TB shape: a real benchmark suite is ~10^5-10^6 n-grams — the
    * eval fingerprint set is broadcast (hinted explicitly), so the train
    * side stays map-only until one per-doc partial-agg shuffle; nothing
    * scales with corpus×eval. The distinct (doc,h) input makes `hits`
    * a distinct-collision count without a countDistinct. */
  private val q60: Q = (s, d) => {
    val fps = winnowedFps(s, d)
    val evalGrams = fps.where(col("doc_id") % 97 === 0)
      .select("h").distinct()
    fps.where(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("hits"))
      .orderBy("doc_id")
  }

  private lazy val q60Sql =
    s"""WITH $fpCtes,
       |ev AS (SELECT DISTINCT h FROM fps WHERE doc_id % 97 = 0)
       |SELECT doc_id, count(*) AS hits
       |FROM fps JOIN ev USING (h)
       |WHERE doc_id % 97 <> 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Corpus-frequency rarity scoring — the integer-deterministic core of
    * the CCNet/C4 "LM quality filter" shape: score each document by how
    * common its tokens are in the corpus itself (two-pass: corpus unigram
    * counts, then a token→count join aggregated per doc). Emits exact
    * BIGINTs — token count, summed corpus frequency, rarest-token
    * frequency, and the ≤2-occurrence rare-token count — rather than a
    * float mean-log-likelihood, whose ln() ULP drift would make the
    * result engine-dependent; any monotone scoring (avg log-freq,
    * perplexity proxy) derives from these columns downstream.
    *
    * 100-TB shape: tokenize+explode map-side; one term-level partial-agg
    * shuffle for the count table; then the token→count join and one
    * per-doc agg shuffle. The count table is vocabulary-sized, not
    * corpus-sized — small enough to broadcast at bench SF (and Catalyst
    * does, by stats) but unbounded at web scale, so the join carries NO
    * broadcast hint: past the autoBroadcast threshold it degrades to a
    * term-shuffle join with both sides pre-reduced per partition rather
    * than OOMing the driver on a pinned broadcast. */
  private val q61: Q = (s, d) => {
    // r07: toks feeds BOTH the vocabulary count table and the token→count
    // join — localCheckpoint it so the scan→lower→split→explode pass runs
    // once instead of twice. The join below stays HINT-FREE (the pinned
    // at-scale economics, PlanGuardSpec).
    val toks = t(s, d, "documents")
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("term"))
      .where(length(col("term")) >= 3)
      .localCheckpoint()
    val cnts = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    toks.join(cnts, "term")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_cnt"),
        min(col("cnt")).as("min_cnt"),
        sum(when(col("cnt") <= 2, 1L).otherwise(0L)).as("rare_tokens"))
      .orderBy("doc_id")
  }

  private val q61Sql =
    """WITH toks AS (
      |  SELECT doc_id, t.term FROM documents,
      |    unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(term)
      |  WHERE length(t.term) >= 3),
      |cnts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term)
      |SELECT doc_id,
      |  count(*) AS n_tokens,
      |  CAST(sum(cnt) AS BIGINT) AS sum_cnt,
      |  min(cnt) AS min_cnt,
      |  CAST(sum(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS rare_tokens
      |FROM toks JOIN cnts USING (term)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q62
  /** GPT-style sequence packing — the step that turns a cleaned corpus
    * into fixed-budget training sequences: concatenate documents in a
    * deterministic order and cut every `budget`=2048 tokens, assigning
    * each document the pack its first token lands in, plus a straddle
    * flag for documents split across a pack boundary (how GPT-2/3-style
    * pipelines actually pack — documents straddle; Brown et al. 2020
    * §2.1). Token counts reuse q18's whitespace tokenization.
    *
    * 100-TB shape: packing is SHARDED — doc_id mod 32 picks a packing
    * shard, the running-sum window is partitioned by shard, so no global
    * window and no single writer; pack ids are per-shard (a real run
    * emits (shard, pack_id) file names). The per-doc work after the one
    * shard window is pure column algebra in exact BIGINTs. */
  private val q62: Q = (s, d) => {
    val toks = t(s, d, "documents")
      .select(col("doc_id"),
        (col("doc_id") % 32).as("shard"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("start_tok"),
        expr("start_tok div 2048").as("pack_id"),
        expr("CAST(CASE WHEN (start_tok + n_tokens - 1) div 2048 <> start_tok div 2048 " +
          "THEN 1 ELSE 0 END AS BIGINT)").as("straddles"))
      .orderBy("doc_id")
  }

  private val q62Sql =
    """WITH toks AS (
      |  SELECT doc_id, doc_id % 32 AS shard,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |cum AS (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
      |  FROM toks)
      |SELECT doc_id, shard, n_tokens, start_tok,
      |  start_tok // 2048 AS pack_id,
      |  CAST(CASE WHEN (start_tok + n_tokens - 1) // 2048 <> start_tok // 2048
      |       THEN 1 ELSE 0 END AS BIGINT) AS straddles
      |FROM cum ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q63
  /** Near-dup cluster CANONICAL SELECTION — the materialization step a
    * dedup pipeline runs after clustering: q59's shared-fingerprint
    * pairs become edges, connected components assign a cluster per doc
    * (singletons cluster to themselves), and each cluster keeps exactly
    * one canonical document — longest text, ties to the smallest doc_id
    * (the C4/RefinedWeb-style keep rule). Output is the keep/drop list
    * the corpus writer consumes.
    *
    * 100-TB shape: edges are the (already capped) q59 pair set, CC is
    * the operator's O(log n) partitioner-reusing loop over edges only,
    * and the keep rule is a per-cluster window — clusters are tiny (they
    * are near-dup groups), so the window never sees a hot partition.
    * The oracle recomputes the closure with a recursive CTE and the keep
    * rule with the same window. */
  private val q63: Q = (s, d) => {
    import s.implicits._
    val edges = cappedDupPairs(s, d)
      .select(col("src"), col("dst")).as[graft.model.Edge]
    val docs = t(s, d, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val comp = graft.operators.ConnectedComponents
      // dedupEdges=false: the pair aggregation already emits unique
      // (src,dst) rows, so the pre-loop distinct would be a pure extra
      // shuffle (same argument as the ER pipeline's call site)
      .assign(s, edges, docs.select(col("doc_id").as("id")), dedupEdges = false)
      .select(col("id").as("doc_id"), col("comp").as("cluster"))
    val wk = Window.partitionBy("cluster")
      .orderBy(col("len").desc, col("doc_id"))
    docs.join(comp, "doc_id")
      .withColumn("rk", row_number().over(wk))
      .select(col("doc_id"), col("cluster"),
        when(col("rk") === 1, 1L).otherwise(0L).as("keep"))
      .orderBy("doc_id")
  }

  private lazy val q63Sql =
    s"""WITH RECURSIVE $fpCtes,
       |hc AS (SELECT h FROM fps GROUP BY h
       |       HAVING count(*) BETWEEN 2 AND 50),
       |bl AS (SELECT doc_id, h FROM fps JOIN hc USING (h)),
       |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst
       |       FROM bl a JOIN bl b ON a.h = b.h AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |nodes(id) AS (SELECT doc_id FROM documents),
       |reach(id, comp) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN e ON e.src = r.id),
       |comp AS (SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS cluster
       |         FROM reach GROUP BY id),
       |ranked AS (
       |  SELECT d.doc_id, c.cluster,
       |    row_number() OVER (PARTITION BY c.cluster
       |      ORDER BY length(d.text) DESC, d.doc_id) AS rk
       |  FROM documents d JOIN comp c USING (doc_id))
       |SELECT doc_id, cluster,
       |  CAST(CASE WHEN rk = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM ranked ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q64
  /** Source-mixture sampling weights — the data-mixture step before
    * training (The Pile / CCNet publish exactly these tables): per
    * source, document and token counts, a uniform-share token cap
    * (total div n_sources), and the tokens actually sampled under the
    * cap — all exact BIGINTs; the sampling RATIO is the downstream
    * sampled/tokens division, left to the consumer so no cross-engine
    * float appears.
    *
    * 100-TB shape: one partial-agg shuffle to the per-source table
    * (sources are few), then the corpus totals are a bounded scalar
    * action over that TINY aggregate (q54/q58's pattern — two longs to
    * the driver, never corpus-sized data). */
  private val q64: Q = (s, d) => {
    // r07: `per` feeds BOTH the totals scalar and the returned frame —
    // localCheckpoint the (tiny, per-source) aggregate so the full
    // scan+tokenize+agg runs once instead of twice (the totals job used
    // to re-derive it from the documents scan).
    val per = t(s, d, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("tokens"))
      .localCheckpoint()
    val tot = per.agg(sum("tokens").as("tt"), count(lit(1)).as("ns")).head()
    val cap = tot.getLong(0) / tot.getLong(1)
    per.select(col("source"), col("docs"), col("tokens"),
        lit(cap).as("cap_tokens"),
        least(col("tokens"), lit(cap)).as("sampled_tokens"))
      .orderBy("source")
  }

  private val q64Sql =
    """WITH per AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS docs,
      |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS tt,
      |               CAST(count(*) AS BIGINT) AS ns FROM per)
      |SELECT source, docs, tokens,
      |  CAST(tt // ns AS BIGINT) AS cap_tokens,
      |  CAST(least(tokens, tt // ns) AS BIGINT) AS sampled_tokens
      |FROM per, tot ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q65
  /** MULTI-PASS sorted-neighborhood — the standard remedy for q57's
    * documented blind spot (cross-boundary pairs): a second sweep under
    * a rotated key (the reversed normalized key) and a per-pair count of
    * how many sweeps proposed it. Pairs are canonicalized (a_id < b_id)
    * so the two sweeps' proposals collide; n_passes = 2 marks the
    * high-confidence core, n_passes = 1 the pairs only one ordering
    * sees — exactly Hernández/Stolfo's multi-pass merge-purge.
    *
    * 100-TB shape: each sweep is q57's shape (one prefix-partition
    * shuffle + lead() pair generation, O(w·n) output, no self-join);
    * the union is reduced by one (a_id, b_id) partial-agg shuffle. */
  private val q65: Q = (s, d) => {
    // r07: BOTH sweeps (forward + reversed key) consume the normalized-key
    // table — localCheckpoint it so the full-text normalization regex runs
    // once per document instead of once per sweep.
    val docs = t(s, d, "documents")
      .select(col("doc_id"),
        expr("substring(regexp_replace(lower(text), '[^a-z0-9]', ''), 1, 20)")
          .as("nk"))
      .localCheckpoint()
    def sweep(key: org.apache.spark.sql.Column): DataFrame = {
      val keyed = docs.select(col("doc_id"), key.as("k"))
        .withColumn("pfx", expr("substring(k, 1, 2)"))
      val w = Window.partitionBy("pfx").orderBy(col("k"), col("doc_id"))
      keyed
        .withColumn("nb", array(
          lead(col("doc_id"), 1).over(w), lead(col("doc_id"), 2).over(w)))
        .select(col("doc_id").as("x"), explode(col("nb")).as("y"))
        .where(col("y").isNotNull)
        .select(least(col("x"), col("y")).as("a_id"),
          greatest(col("x"), col("y")).as("b_id"))
    }
    sweep(col("nk")).unionByName(sweep(reverse(col("nk"))))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_passes"))
      .orderBy("a_id", "b_id")
  }

  private val q65Sql =
    """WITH k AS (
      |  SELECT doc_id,
      |    substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 20) AS nk
      |  FROM documents),
      |s1 AS (
      |  SELECT doc_id, nk AS k, substring(nk, 1, 2) AS pfx,
      |    lead(doc_id, 1) OVER w AS y1, lead(doc_id, 2) OVER w AS y2
      |  FROM k WINDOW w AS (PARTITION BY substring(nk, 1, 2)
      |                      ORDER BY nk, doc_id)),
      |s2 AS (
      |  SELECT doc_id, reverse(nk) AS k, substring(reverse(nk), 1, 2) AS pfx,
      |    lead(doc_id, 1) OVER w AS y1, lead(doc_id, 2) OVER w AS y2
      |  FROM k WINDOW w AS (PARTITION BY substring(reverse(nk), 1, 2)
      |                      ORDER BY reverse(nk), doc_id)),
      |pairs AS (
      |  SELECT least(doc_id, y1) AS a_id, greatest(doc_id, y1) AS b_id
      |  FROM s1 WHERE y1 IS NOT NULL
      |  UNION ALL
      |  SELECT least(doc_id, y2), greatest(doc_id, y2) FROM s1 WHERE y2 IS NOT NULL
      |  UNION ALL
      |  SELECT least(doc_id, y1), greatest(doc_id, y1) FROM s2 WHERE y1 IS NOT NULL
      |  UNION ALL
      |  SELECT least(doc_id, y2), greatest(doc_id, y2) FROM s2 WHERE y2 IS NOT NULL)
      |SELECT a_id, b_id, count(*) AS n_passes
      |FROM pairs GROUP BY a_id, b_id ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------------------- q66
  /** C4-style quality GATE — not another score (q19) or stat table
    * (q46) but the production keep/drop decision with a reason BITMAP,
    * the artifact a filtering stage actually materializes (Raffel et
    * al. 2020 §2.2 list exactly this rule-battery shape): bit 1 = code
    * braces, bit 2 = "javascript" boilerplate, bit 4 = ellipsis spam
    * (>2 "..." runs), bit 8 = digit-heavy (digits > alpha/2). Every
    * counter is an exact integer from engine-portable char-class
    * regexp_replace length arithmetic — no floats, no tokenizer
    * dependency.
    *
    * 100-TB shape: pure map-side column algebra; the only shuffle is
    * the final orderBy. The bitmap keeps one pass auditable: a
    * downstream can compute per-rule rejection rates by bit-masking
    * without re-running the battery. */
  // r07: the four per-counter regexp_replace rewrites (four full transient
  // copies of every document at 100 TB) are replaced by ONE codegen'd byte
  // pass — graft_charclass_counts — returning all six gate counters
  // (VERDICT r06 #5/#6; value equivalence vs the regex battery asserted in
  // GraftExpressionsSpec, and the oracle SQL below is unchanged). The
  // expression is evaluated ONCE per row by plan structure: Catalyst keeps
  // the multi-referenced struct in its own `Project [... AS cc]` below the
  // field extractions (CollapseProject refuses to duplicate a non-cheap
  // expression) — visible at plans/r07/q66_quality_gate_after.txt line
  // "graft_charclass_counts(text#…) AS cc#…".
  private val q66: Q = (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("cc", expr("graft_charclass_counts(text)"))
      .withColumn("ellipsis_ct", col("cc.ellipsis_ct"))
      .withColumn("upper_ct", col("cc.upper_ct"))
      .withColumn("alpha_ct", col("cc.alpha_ct"))
      .withColumn("digit_ct", col("cc.digit_ct"))
      .withColumn("reasons",
        col("cc.has_brace") +
        col("cc.has_js") * 2L +
        when(col("ellipsis_ct") > 2, 4L).otherwise(0L) +
        when(col("digit_ct") * 2 > col("alpha_ct"), 8L).otherwise(0L))
      .select(col("doc_id"), col("ellipsis_ct"), col("upper_ct"),
        col("alpha_ct"), col("digit_ct"), col("reasons"),
        when(col("reasons") === 0, 1L).otherwise(0L).as("keep"))
      .orderBy("doc_id")

  private val q66Sql =
    """WITH base AS (
      |  SELECT doc_id, text,
      |    CAST((length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) // 3 AS BIGINT) AS ellipsis_ct,
      |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT) AS upper_ct,
      |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_ct,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit_ct
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, ellipsis_ct, upper_ct, alpha_ct, digit_ct,
      |    CAST(CASE WHEN text LIKE '%{%' OR text LIKE '%}%' THEN 1 ELSE 0 END
      |      + CASE WHEN lower(text) LIKE '%javascript%' THEN 2 ELSE 0 END
      |      + CASE WHEN ellipsis_ct > 2 THEN 4 ELSE 0 END
      |      + CASE WHEN digit_ct * 2 > alpha_ct THEN 8 ELSE 0 END AS BIGINT) AS reasons
      |  FROM base)
      |SELECT doc_id, ellipsis_ct, upper_ct, alpha_ct, digit_ct, reasons,
      |  CAST(CASE WHEN reasons = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM scored ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q67
  /** INCREMENTAL snapshot dedup — the crawl-ingest shape q60 is not: a
    * new batch (doc_id mod 10 ∈ {8,9} plays the fresh snapshot) is
    * checked against the EXISTING corpus's fingerprint index (mod 10 <
    * 8), emitting per new doc its collision count and the earliest
    * existing duplicate. Same [[winnowedFps]] index, opposite join
    * economics: q60's eval set is tiny by construction and explicitly
    * broadcast; here the index side is CORPUS-sized, so the join
    * carries no hint — Catalyst broadcasts it while it fits (it does at
    * bench SF) and degrades to an h-shuffle join with both sides
    * hash-partitioned once a 10^12-doc index exceeds any threshold.
    * This is the join a nightly crawl append runs against the
    * accumulated index, incremental in the new batch's size. */
  private val q67: Q = (s, d) => {
    val fps = winnowedFps(s, d)
    val existing = fps.where(col("doc_id") % 10 < 8)
      .select(col("h"), col("doc_id").as("old_id"))
    fps.where(col("doc_id") % 10 >= 8)
      .join(existing, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("collisions"), min("old_id").as("min_dup_doc"))
      .orderBy("doc_id")
  }

  private lazy val q67Sql =
    s"""WITH $fpCtes,
       |ex AS (SELECT h, doc_id AS old_id FROM fps WHERE doc_id % 10 < 8)
       |SELECT f.doc_id, count(*) AS collisions, min(ex.old_id) AS min_dup_doc
       |FROM fps f JOIN ex USING (h)
       |WHERE f.doc_id % 10 >= 8
       |GROUP BY f.doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q68
  /** REAL WAV/RIFF audio-header decode through the multimodal operator
    * (VERDICT r05 #5): rows carry canonical 44-byte WAV headers with
    * deterministic per-id sample rate / channels / declared sample count,
    * and the operator extracts sample rate, channel count and duration
    * from the fmt/data chunk bytes — codec-free, the same public-format
    * header trick as q30's PNG branch. Oracle-checked end to end: the
    * DuckDB side reconstructs the exact little-endian header blob with
    * printf byte arithmetic and recomputes duration = dataSize·1000 div
    * byteRate, so a parser bug in EITHER engine breaks the hash.
    *
    * 100-TB shape: map-only over the documents scan (generator stands in
    * for a binary media column); one batch-decode pass, no shuffle except
    * the final presentation sort. */
  private val q68: Q = (s, d) => {
    import s.implicits._
    import graft.operators.Multimodal
    val media = t(s, d, "documents").select("doc_id").as[Long]
      .map { id =>
        val sr = Array(8000, 16000, 22050, 44100)((id % 4).toInt)
        val ch = 1 + (id % 2).toInt
        val nSamples = 1000L + (id % 5000L) * 7L
        Multimodal.MediaRow(id, "audio", Multimodal.wavHeader(sr, ch, 16, nSamples))
      }
    Multimodal.extractFeatures(s, media).toDF()
      .select(col("id").as("doc_id"),
        col("sampleRateHz").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("durationMs").as("duration_ms"),
        col("byteLen").as("byte_len"),
        col("contentHexMd5").as("content_fp"))
      .orderBy("doc_id")
  }

  /** Little-endian hex of a 32/16-bit integer expression — DuckDB-side
    * byte plumbing for q68's header reconstruction. */
  private def le32Sql(x: String): String =
    s"printf('%02x%02x%02x%02x', ($x)%256, (($x)//256)%256, (($x)//65536)%256, (($x)//16777216)%256)"
  private def le16Sql(x: String): String =
    s"printf('%02x%02x', ($x)%256, (($x)//256)%256)"

  private lazy val q68Sql =
    s"""WITH p AS (
       |  SELECT doc_id,
       |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
       |         WHEN 2 THEN 22050 ELSE 44100 END AS sr,
       |    1 + doc_id % 2 AS ch,
       |    1000 + (doc_id % 5000) * 7 AS ns
       |  FROM documents),
       |q AS (SELECT doc_id, sr, ch,
       |        ch * 2 AS ba, sr * ch * 2 AS br, ns * ch * 2 AS ds FROM p),
       |b AS (
       |  SELECT doc_id, sr, ch, ds, br,
       |    from_hex(concat(
       |      '52494646', ${le32Sql("36 + ds")}, '57415645',
       |      '666d7420', '10000000', '0100', ${le16Sql("ch")},
       |      ${le32Sql("sr")}, ${le32Sql("br")}, ${le16Sql("ba")}, '1000',
       |      '64617461', ${le32Sql("ds")})) AS bytes
       |  FROM q)
       |SELECT doc_id, CAST(sr AS BIGINT) AS sample_rate,
       |  CAST(ch AS BIGINT) AS channels,
       |  CAST(ds * 1000 // br AS BIGINT) AS duration_ms,
       |  CAST(octet_length(bytes) AS BIGINT) AS byte_len,
       |  md5(hex(bytes)) AS content_fp
       |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q69
  /** The END-TO-END corpus build ([[graft.pipeline.CorpusBuild]]): q66's
    * quality gate → fingerprint index → q63's canonical keep/drop → q60's
    * decontamination → q62's packing (q64's mixture committed alongside),
    * each stage a resumable SnapshotStore snapshot. The catalog entry runs
    * the whole pipeline against a fresh scratch store and returns the
    * final packed table; the oracle recomputes the ENTIRE composition —
    * gate battery, winnowed fingerprints, capped pairs, recursive-CTE
    * connected components, keep rule, eval-collision exclusion, sharded
    * packing — as one SQL chain, so a drift in ANY stage breaks the hash.
    *
    * 100-TB shape: the composition of the stages' pinned shapes (see
    * CorpusBuild's Scaladoc); every stage boundary is a committed table,
    * which is also what makes the run resumable after a mid-stage kill
    * (CorpusBuildSpec). */
  private val q69: Q = (s, d) => {
    val store = new graft.sources.SnapshotStore(
      s, graft.util.Scratch.unique("corpus_build"))
    graft.pipeline.CorpusBuild.run(s, store, t(s, d, "documents"))
      .orderBy("doc_id")
  }

  private lazy val q69Sql =
    s"""WITH RECURSIVE base AS (
       |  SELECT doc_id, source, text,
       |    CAST((length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) // 3 AS BIGINT) AS ellipsis_ct,
       |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS alpha_ct,
       |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit_ct
       |  FROM documents),
       |gate AS (
       |  SELECT doc_id, source, text FROM base
       |  WHERE NOT (text LIKE '%{%' OR text LIKE '%}%')
       |    AND lower(text) NOT LIKE '%javascript%'
       |    AND ellipsis_ct <= 2
       |    AND digit_ct * 2 <= alpha_ct),
       |s0 AS (SELECT doc_id, substring(text, 1, 512) AS s FROM gate),
       |grams AS (
       |  SELECT doc_id, substring(s, CAST(i AS INTEGER), 8) AS g
       |  FROM (SELECT doc_id, s,
       |          unnest(range(1, greatest(length(s) - 6, 1))) AS i FROM s0)),
       |fps AS (
       |  SELECT DISTINCT doc_id, h
       |  FROM (SELECT doc_id, ${rollHashSql("g")} AS h FROM grams)
       |  WHERE h % 64 = 0),
       |hc AS (SELECT h FROM fps GROUP BY h
       |       HAVING count(*) BETWEEN 2 AND 50),
       |bl AS (SELECT doc_id, h FROM fps JOIN hc USING (h)),
       |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst
       |       FROM bl a JOIN bl b ON a.h = b.h AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2 HAVING count(*) >= 2),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |nodes(id) AS (SELECT doc_id FROM gate),
       |reach(id, comp) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, r.comp FROM reach r JOIN e ON e.src = r.id),
       |comp AS (SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS cluster
       |         FROM reach GROUP BY id),
       |ranked AS (
       |  SELECT g.doc_id,
       |    row_number() OVER (PARTITION BY c.cluster
       |      ORDER BY length(g.text) DESC, g.doc_id) AS rk
       |  FROM gate g JOIN comp c USING (doc_id)),
       |keeps AS (SELECT doc_id FROM ranked WHERE rk = 1),
       |ev AS (SELECT DISTINCT h FROM fps WHERE doc_id % 97 = 0),
       |contaminated AS (SELECT DISTINCT f.doc_id FROM fps f JOIN ev USING (h)
       |                 WHERE f.doc_id % 97 <> 0),
       |survivors AS (
       |  SELECT g.doc_id, g.source,
       |    CAST(len(regexp_split_to_array(trim(g.text), '\\s+')) AS BIGINT) AS n_tokens
       |  FROM gate g JOIN keeps USING (doc_id)
       |  WHERE g.doc_id % 97 <> 0
       |    AND g.doc_id NOT IN (SELECT doc_id FROM contaminated)),
       |cum AS (
       |  SELECT doc_id, doc_id % 32 AS shard, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY doc_id % 32
       |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS BIGINT) AS start_tok
       |  FROM survivors)
       |SELECT doc_id, shard, n_tokens, start_tok,
       |  start_tok // 2048 AS pack_id,
       |  CAST(CASE WHEN (start_tok + n_tokens - 1) // 2048 <> start_tok // 2048
       |       THEN 1 ELSE 0 END AS BIGINT) AS straddles
       |FROM cum ORDER BY doc_id""".stripMargin

  val all: Map[String, Q] = Map(
    "q01_group_agg" -> q01,
    "q02_filter_project" -> q02,
    "q03_join3_agg" -> q03,
    "q04_star_join" -> q04,
    "q05_semi_join" -> q05,
    "q06_anti_join" -> q06,
    "q07_distinct" -> q07,
    "q08_union_counts" -> q08,
    "q09_window_rank" -> q09,
    "q10_topk" -> q10,
    "q11_case_agg" -> q11,
    "q12_having" -> q12,
    "q13_correlated_count" -> q13,
    "q14_range_scan" -> q14,
    "q15_clean_text" -> q15,
    "q16_normalize_titles" -> q16,
    "q17_match_count" -> q17,
    "q18_token_count" -> q18,
    "q19_quality_score" -> q19,
    "q20_lang_guess" -> q20,
    "q21_dedup_exact" -> q21,
    "q22_mention_offset" -> q22,
    "q23_embed_norm" -> q23,
    "q24_embed_knn" -> q24,
    "q25_ngram_jaccard" -> q25,
    "q26_levenshtein" -> q26,
    "q27_minhash_blocks" -> q27,
    "q28_simhash" -> q28,
    "q29_er_clusters" -> q29,
    "q30_multimodal_stub" -> q30,
    "q31_ascii_fold_expr" -> q31,
    "q32_escape_title_expr" -> q32,
    "q33_jaro_winkler_expr" -> q33,
    "q34_ann_lsh" -> q34,
    "q35_entity_labels" -> q35,
    "q36_redirect_lookup" -> q36,
    "q37_time_buckets" -> q37,
    "q38_sessionize" -> q38,
    "q39_json_extract" -> q39,
    "q40_embed_neardup" -> q40,
    "q41_ann_ivf" -> q41,
    "q42_rollup" -> q42,
    "q43_setops" -> q43,
    "q44_url_canon" -> q44,
    "q45_pii_redact" -> q45,
    "q46_repetition_stats" -> q46,
    "q47_top_bigrams" -> q47,
    "q48_stratified_split" -> q48,
    "q49_hll_distinct" -> q49,
    "q50_length_quantiles" -> q50,
    "q51_retention" -> q51,
    "q52_asof_join" -> q52,
    "q53_pagerank" -> q53,
    "q54_keyword_topk" -> q54,
    "q55_fingerprint" -> q55,
    "q56_range_join" -> q56,
    "q57_sorted_neighborhood" -> q57,
    "q58_blocking_audit" -> q58,
    "q59_dup_passages" -> q59,
    "q60_decontaminate" -> q60,
    "q61_rarity_score" -> q61,
    "q62_seq_packing" -> q62,
    "q63_canonical_keep" -> q63,
    "q64_mixture_weights" -> q64,
    "q65_snm_multipass" -> q65,
    "q66_quality_gate" -> q66,
    "q67_incremental_dedup" -> q67,
    "q68_wav_decode" -> q68,
    "q69_corpus_build" -> q69)

  val oracles: Map[String, String] = Map(
    "q01_group_agg" -> q01Sql,
    "q02_filter_project" -> q02Sql,
    "q03_join3_agg" -> q03Sql,
    "q04_star_join" -> q04Sql,
    "q05_semi_join" -> q05Sql,
    "q06_anti_join" -> q06Sql,
    "q07_distinct" -> q07Sql,
    "q08_union_counts" -> q08Sql,
    "q09_window_rank" -> q09Sql,
    "q10_topk" -> q10Sql,
    "q11_case_agg" -> q11Sql,
    "q12_having" -> q12Sql,
    "q13_correlated_count" -> q13Sql,
    "q14_range_scan" -> q14Sql,
    "q15_clean_text" -> q15Sql,
    "q16_normalize_titles" -> q16Sql,
    "q17_match_count" -> q17Sql,
    "q18_token_count" -> q18Sql,
    "q19_quality_score" -> q19Sql,
    "q20_lang_guess" -> q20Sql,
    "q21_dedup_exact" -> q21Sql,
    "q22_mention_offset" -> q22Sql,
    "q23_embed_norm" -> q23Sql,
    "q24_embed_knn" -> q24Sql,
    "q25_ngram_jaccard" -> q25Sql,
    "q26_levenshtein" -> q26Sql,
    "q27_minhash_blocks" -> q27Sql,
    "q28_simhash" -> q28Sql,
    "q34_ann_lsh" -> q34Sql,
    "q29_er_clusters" -> q29Sql,
    "q30_multimodal_stub" -> q30Sql,
    "q31_ascii_fold_expr" -> q31Sql,
    "q32_escape_title_expr" -> q32Sql,
    "q33_jaro_winkler_expr" -> q33Sql,
    "q35_entity_labels" -> q35Sql,
    "q36_redirect_lookup" -> q36Sql,
    "q37_time_buckets" -> q37Sql,
    "q38_sessionize" -> q38Sql,
    "q39_json_extract" -> q39Sql,
    "q40_embed_neardup" -> q40Sql,
    "q41_ann_ivf" -> q41Sql,
    "q42_rollup" -> q42Sql,
    "q43_setops" -> q43Sql,
    "q44_url_canon" -> q44Sql,
    "q45_pii_redact" -> q45Sql,
    "q46_repetition_stats" -> q46Sql,
    "q47_top_bigrams" -> q47Sql,
    "q48_stratified_split" -> q48Sql,
    "q49_hll_distinct" -> q49Sql,
    "q50_length_quantiles" -> q50Sql,
    "q51_retention" -> q51Sql,
    "q52_asof_join" -> q52Sql,
    "q53_pagerank" -> q53Sql,
    "q54_keyword_topk" -> q54Sql,
    "q55_fingerprint" -> q55Sql,
    "q56_range_join" -> q56Sql,
    "q57_sorted_neighborhood" -> q57Sql,
    "q58_blocking_audit" -> q58Sql,
    "q59_dup_passages" -> q59Sql,
    "q60_decontaminate" -> q60Sql,
    "q61_rarity_score" -> q61Sql,
    "q62_seq_packing" -> q62Sql,
    "q63_canonical_keep" -> q63Sql,
    "q64_mixture_weights" -> q64Sql,
    "q65_snm_multipass" -> q65Sql,
    "q66_quality_gate" -> q66Sql,
    "q67_incremental_dedup" -> q67Sql,
    "q68_wav_decode" -> q68Sql,
    "q69_corpus_build" -> q69Sql)
}
