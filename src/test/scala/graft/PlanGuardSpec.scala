package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression guard (VERDICT r02 #8): pins the at-scale physical-plan
  * properties the catalog has earned, so a future edit cannot silently
  * reintroduce a scale-killer. Inspects the compiled physical plan of every
  * catalog query (initial AQE plan — what the optimizer commits to before
  * runtime stats):
  *  - no CartesianProduct anywhere;
  *  - nested-loop joins only in the labeled brute-force baselines
  *    (q24/q26/q33 tiny-domain baselines; q28's join against a single
  *    reference row, which broadcasts one row — fine at any scale);
  *  - no single-partition Exchange (a global-window / global-repartition
  *    smell: one task does all the work);
  *  - the q04 star join keeps its broadcast dimension tables.
  */
class PlanGuardSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val dir = "/root/testdata/sf0.001"

  /** Cross-join-shaped plans allowed: documented brute-force baselines over
    * tiny/bounded domains (q24 labeled ANN baseline, q26/q33 distinct-source
    * pair domains) and q28's single-reference-row join. */
  private val NestedLoopAllowed =
    Set("q24_embed_knn", "q26_levenshtein", "q33_jaro_winkler_expr", "q28_simhash")

  private lazy val plans: Map[String, String] =
    Queries.all.map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.executedPlan.toString
    }

  test("no CartesianProduct anywhere in the catalog") {
    val offenders = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n
    }
    assert(offenders.isEmpty, s"cartesian products crept in: $offenders")
  }

  test("nested-loop joins only in the labeled baselines") {
    val offenders = plans.collect {
      case (n, p) if p.contains("BroadcastNestedLoopJoin") && !NestedLoopAllowed(n) => n
    }
    assert(offenders.isEmpty, s"nested-loop joins outside the baselines: $offenders")
  }

  test("no single-partition exchange in any catalog plan") {
    val offenders = plans.collect {
      case (n, p) if p.contains("Exchange SinglePartition") => n
    }
    assert(offenders.isEmpty, s"single-partition exchanges (global windows?): $offenders")
  }

  test("q04 star join broadcasts its dimension tables") {
    assert(plans("q04_star_join").contains("BroadcastHashJoin"),
      "q04's dimension joins are no longer broadcast")
  }

  test("filters reach the parquet scan (pushdown) on the filter queries") {
    // q02/q14 are the predicate-pushdown representatives: their scans must
    // carry non-empty PushedFilters — a plan that filters post-scan reads
    // the whole table at 100 TB
    for (q <- Seq("q02_filter_project", "q14_range_scan")) {
      val p = plans(q)
      assert(raw"PushedFilters: \[[^\]]".r.findFirstIn(p).isDefined,
        s"$q scan lost its pushed filters")
    }
  }

  test("column pruning reaches the scan (q02 reads only its 4 columns)") {
    // q02 projects 3 columns + filters on 2; the 16-column lineitem scan
    // must be pruned to exactly the needed ReadSchema — reading
    // l_comment & co for a 3-column projection is wrong at any scale
    val p = plans("q02_filter_project")
    val schema = raw"ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    val cols = schema.split(",").map(_.trim.takeWhile(_ != ':')).toSet
    assert(cols == Set("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"),
      s"q02 ReadSchema not pruned to the 4 needed columns: $cols")
  }

  test("q47 global top-k plans as TakeOrderedAndProject, not a global sort") {
    assert(plans("q47_top_bigrams").contains("TakeOrderedAndProject"),
      "q47's orderBy+limit no longer collapses to per-partition top-k merge")
  }

  // ---- round-5 pins (VERDICT r04 #4): the round-4 operators' earned shapes

  /** Pre-AQE physical plan (a plain SparkPlan tree — traversable, unlike
    * the AdaptiveSparkPlanExec wrapper). */
  private def sparkPlanOf(name: String): org.apache.spark.sql.execution.SparkPlan =
    Queries.all.toMap.apply(name)(spark, dir).queryExecution.sparkPlan

  test("q49's 64-bucket domain is a literal sequence, not a join") {
    val p = sparkPlanOf("q49_hll_distinct")
    // sequence(0,63) constant-folds to a literal array in the Generate —
    // the explode argument must stay a literal (no #N column reference)
    assert(raw"Generate explode\([^)#]*\)".r.findFirstIn(p.toString).isDefined,
      "q49 lost its literal (constant-folded sequence) bucket-domain explode")
    // exactly the two semantic joins survive (registers left-join domain,
    // estimate join exact-witness) — a third join means someone rebuilt
    // the 64-row domain as a joined table
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size <= 2,
      s"q49 grew ${joins.size} joins — the bucket domain must stay a literal sequence")
  }

  test("q51's joins see only pre-reduced daily aggregates, never raw events") {
    // at scale the retention self-join's input must be |users|x|days|
    // (the daily-distinct aggregate), not |events| — every join child
    // subtree that reaches a scan must pass through an Aggregate first
    val p = sparkPlanOf("q51_retention")
    import org.apache.spark.sql.execution.SparkPlan
    def subtreeHas(n: SparkPlan, pred: SparkPlan => Boolean): Boolean =
      pred(n) || n.children.exists(subtreeHas(_, pred))
    val isScan = (n: SparkPlan) => n.getClass.getSimpleName.contains("Scan")
    val isAgg = (n: SparkPlan) => n.getClass.getSimpleName.contains("Aggregate")
    val offenders = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.children.filter(c => subtreeHas(c, isScan) && !subtreeHas(c, isAgg))
    }.flatten
    assert(offenders.isEmpty,
      s"q51 joins a raw (un-aggregated) scan: ${offenders.map(_.nodeName)}")
  }

  test("q44/q45 stay map-only up to their final aggregation/sort") {
    // the redaction/canonicalization chains are per-row regex algebra: no
    // joins ever, and shuffles only where the semantics demand them —
    // q45: the final orderBy (1 exchange); q44: the two-phase
    // count-distinct host aggregation + final orderBy (≤3 exchanges)
    for ((name, maxExchanges) <- Seq("q45_pii_redact" -> 1, "q44_url_canon" -> 3)) {
      val p = sparkPlanOf(name)
      val joins = p.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.isEmpty, s"$name grew a join: ${joins.map(_.nodeName)}")
      val exchanges = p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(exchanges.size <= maxExchanges,
        s"$name plans ${exchanges.size} shuffles (> $maxExchanges) — " +
          "the map-only chain picked up an extra exchange")
    }
  }

  // ---- round-5 operator pins: q55 native fingerprints, q57-q60 shapes

  test("q55 fingerprints via the native expression: no explode, no join") {
    val p = sparkPlanOf("q55_fingerprint")
    assert(p.toString.contains("graft_rolling_fp"),
      "q55 no longer uses the native rolling-fingerprint expression")
    val generates = p.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(generates.isEmpty,
      "q55 regrew a per-gram explode — the 64×-larger row blowup the " +
        "native array expression exists to avoid")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"q55 grew a join: ${joins.map(_.nodeName)}")
  }

  test("q57 pairs come from a partitioned window, never a self-join") {
    val p = sparkPlanOf("q57_sorted_neighborhood")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty,
      s"q57 grew a join — sorted-neighborhood pair generation must stay " +
        s"lead()-window-based O(w·n): ${joins.map(_.nodeName)}")
    assert(p.toString.contains("Window"), "q57 lost its window operator")
  }

  test("q59 joins read only the materialized fingerprint skim") {
    // every q59 input is the localCheckpoint()ed winnowed-fps table — a
    // plan with a parquet FileScan means a consumer re-derives the 64×
    // gram explosion instead of reusing the fingerprint index
    val p = sparkPlanOf("q59_dup_passages")
    assert(!p.toString.contains("FileScan"),
      "q59 reads raw parquet — the fps skim is no longer materialized/reused")
  }

  test("q60's eval fingerprint set joins as a broadcast") {
    val p = sparkPlanOf("q60_decontaminate")
    val bhj = p.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty,
      "q60's benchmark-fingerprint join is no longer broadcast — at scale " +
        "that shuffles the whole training corpus against a tiny eval set")
    val smj = p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, "q60 picked up a sort-merge join")
  }

  test("q58's final reduction is grouped by family, not a global scalar") {
    val p = sparkPlanOf("q58_blocking_audit").toString
    assert(p.contains("HashAggregate(keys=[family"),
      "q58's audit reduction lost its family grouping (global-agg smell)")
  }

  test("q62 packing windows stay sharded and join-free") {
    val p = sparkPlanOf("q62_seq_packing")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"q62 grew a join: ${joins.map(_.nodeName)}")
    // the running-sum window must be partitioned by shard — a global
    // window would serialize the whole corpus through one task
    assert(p.toString.contains("windowspecdefinition(shard"),
      "q62's running-sum window lost its shard partitioning")
  }

  test("q65 multi-pass pairs stay window-generated and join-free") {
    val p = sparkPlanOf("q65_snm_multipass")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty,
      s"q65 grew a join — both sweeps must stay lead()-window pair " +
        s"generation: ${joins.map(_.nodeName)}")
  }

  // ---- round-6 pins (VERDICT r05 #3): the round-5 join-economics shapes

  test("q52 as-of join stays a union-and-sweep: no join operator at all") {
    // the naive as-of form is a range join (BroadcastNestedLoop,
    // O(|events|×|quotes|) pair explosion); the shipped shape UNIONs the
    // pre-reduced quote stream into the events and sweeps with one
    // partitioned window — any join node here is a regression to the
    // explosion
    val p = sparkPlanOf("q52_asof_join")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty,
      s"q52 grew a join — the as-of must stay union-and-sweep: " +
        s"${joins.map(_.nodeName)}")
    assert(p.toString.contains("Window"), "q52 lost its sweep window")
  }

  test("q61/q67 joins stay HINT-FREE (Catalyst's stats-based choice)") {
    // both join a per-doc stream against a table that is small at bench
    // SF but CORPUS-sized at web scale (q61: the vocabulary count table;
    // q67: the accumulated fingerprint index). A pinned broadcast hint
    // would OOM the driver at 10^12 docs; hint-free, Catalyst broadcasts
    // while the side fits and degrades to a shuffle join beyond — so the
    // pin is the ABSENCE of any hint, not a join strategy
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, JoinHint}
    for (q <- Seq("q61_rarity_score", "q67_incremental_dedup")) {
      val lp = Queries.all(q)(spark, dir).queryExecution.optimizedPlan
      val joins = lp.collect { case j: LJoin => j }
      assert(joins.nonEmpty, s"$q lost its join entirely — pin is stale")
      val hinted = joins.filter(_.hint != JoinHint.NONE)
      assert(hinted.isEmpty,
        s"$q carries a join hint (${hinted.map(_.hint)}) — these joins " +
          "must stay hint-free so the plan degrades gracefully at scale")
    }
  }

  test("q59/q63 pair derivation keeps the stop-fingerprint cap and h-keyed join") {
    // q59 and q63 share ONE pair-derivation code path (cappedDupPairs);
    // q59's plan is where it is visible (q63 consumes it inside the CC
    // stage, whose output is materialized before the final plan). Pairs
    // come out of fingerprint blocks formed by one hash exchange on h, so
    // doc×doc pairing cannot happen: the plan has no join at all. The
    // 50-document cap itself lives inside the block and is pinned by
    // FingerprintDedupSpec's boundary test.
    val p = Queries.all.toMap.apply("q59_dup_passages")(spark, dir)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case plan => plan
    }
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"q59's pair derivation grew a join: ${joins.map(_.nodeName)}")
    val emitters = p.collect { case m: org.apache.spark.sql.execution.MapGroupsExec => m }
    assert(emitters.nonEmpty, "q59's pairs no longer come out of per-fingerprint blocks")
    for (m <- emitters) {
      val input = m.collectFirst {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e.outputPartitioning
      }
      assert(input.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning]),
        s"pair emission does not read a hash exchange: $input")
    }
  }

  test("q68 stays a map-only decode chain: no join, no mid-chain shuffle") {
    // header decode is per-row work over the documents scan; the only
    // exchange the semantics allow is the final presentation sort
    val p = sparkPlanOf("q68_wav_decode")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"q68 grew a join: ${joins.map(_.nodeName)}")
    val exchanges = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.size <= 1,
      s"q68 plans ${exchanges.size} shuffles — the decode chain must stay map-only")
  }

  test("q69's returned plan is the materialized packed table, not re-derivation") {
    // the pipeline's work happens inside its snapshot stages; the catalog
    // entry must return a plan over the COMMITTED packed parquet — a join
    // or aggregate here means packing got re-derived outside the store
    val p = sparkPlanOf("q69_corpus_build")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"q69's final plan grew a join: ${joins.map(_.nodeName)}")
    assert(p.toString.contains("Scan parquet") || p.toString.contains("FileScan"),
      "q69 no longer reads the committed packed snapshot")
  }

  // ---- round-7 pins: optimization-round shapes

  test("q66's gate counters come from the one-pass native expression (r07)") {
    // the quality gate must count char classes in ONE codegen'd byte pass
    // (graft_charclass_counts) — a regexp_replace here means the gate went
    // back to building four full rewritten copies of every document
    val p = sparkPlanOf("q66_quality_gate").toString
    assert(p.contains("graft_charclass_counts"),
      "q66 no longer uses the native char-class counter expression")
    assert(!p.contains("regexp_replace"),
      "q66 regrew a regexp_replace counter — the four-copies-per-document " +
        "trap the native expression exists to avoid")
  }

  test("q58's SNM histogram derives from the exact histogram (one regex pass, r07)") {
    // the prefix-family sizes are a rollup of the exact-key sizes; a
    // second scan-level regexp_replace means the derivation regressed to
    // two full normalization passes over every document
    val p = sparkPlanOf("q58_blocking_audit").toString
    val regexCount = raw"regexp_replace\(lower".r.findAllIn(p).size
    assert(regexCount <= 2, // one per scan-subtree occurrence pre-AQE-reuse
      s"q58 plans $regexCount normalization regex passes — the SNM family " +
        "must derive from the exact histogram, not re-normalize the corpus")
  }

  test("q63's final stage joins only cluster-sized inputs, never pairs again") {
    // after CC the cluster assignment is materialized; the final plan may
    // join docs⋈comp (and nothing else) — a join keyed on the fingerprint
    // h here would mean the pair explosion got re-derived downstream
    val p = sparkPlanOf("q63_canonical_keep")
    val joins = p.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size <= 2,
      s"q63's final stage grew ${joins.size} joins: ${joins.map(_.nodeName)}")
    assert(!joins.exists(_.leftKeys.exists(_.toString.startsWith("h#"))),
      "q63's final stage re-joins on fingerprints — pair work must stay " +
        "inside the capped derivation feeding CC")
  }
}
