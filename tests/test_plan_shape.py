"""Physical-plan shape assertions: the properties that make the queries
scale are checked from .explain output, not just asserted in prose.

* point lookup: the key equality must be a PushedFilter on the parquet
  scan (file/row-group pruning via min-max stats at scale);
* projection pruning: a 2-column query must not read the full schema;
* broadcast enrich: the dim side must broadcast, not shuffle.
"""

import io
from contextlib import redirect_stdout

from team_goldo_combat_log_parser_spark.operators import relational

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_point_lookup_pushdown(spark):
    plan = plan_of(relational.point_lookup_order(spark, SF))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "EqualTo(o_orderkey,32)" in pushed, pushed
    # column pruning: the scan must not read unused columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_comment" not in read and "o_clerk" not in read, read


def test_point_lookup_result(spark):
    rows = relational.point_lookup_order(spark, SF).collect()
    assert len(rows) == 1 and rows[0]["o_orderkey"] == 32


def test_broadcast_enrich_is_broadcast(spark):
    plan = plan_of(relational.broadcast_enrich_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # round 8: n_suppliers derives from size(collect_set) — a second
    # distinct aggregate (countDistinct) would re-introduce the Expand
    # that doubled this query (BENCH/ENRICH_IVF_AB.md)
    assert "Expand" not in plan, plan


def test_combat_routed_shuffle_budget(spark):
    """Pin the combat pipeline's shuffle budget (SCALE.md): the routed
    plan must contain exactly TWO hash exchanges — (1) the bounded
    markers shuffle feeding the fight state machine (O(#fights) rows),
    (2) the fights dedup window (O(#fights)) — plus a broadcast (not
    shuffled) fights join. Round 9 removed the former third exchange
    (the full-event healer-as-of window): the routed projection is now
    MAP-ONLY on the event side, and healer attribution runs over the
    sparse FA/exit/absorb union inside heal_per_healer. A regression
    that adds an event-side exchange or demotes the broadcast join
    changes these counts.
    """
    import re

    from team_goldo_combat_log_parser_spark.plans.pipeline import run_pipeline
    from team_goldo_combat_log_parser_spark.sources import datagen as dg

    logs = dg.synth_corpus(dg.GenConfig(n_logs=2, fights_per_log=2,
                                        rows_per_fight=40, seed=5))
    res = run_pipeline(spark, dg.token_df(spark, logs), cache=False)
    plan = plan_of(res.routed)
    nodes = [re.sub(r"^\s*\(\d+\)\s*", "", ln).strip()
             for ln in plan.splitlines() if re.match(r"^\s*\(\d+\)", ln)]
    assert nodes.count("Exchange") == 2, nodes
    assert nodes.count("BroadcastHashJoin") == 1, nodes
    assert nodes.count("SortMergeJoin") == 0, nodes
    assert nodes.count("Window") == 1, nodes
    # the parse is map-only. Round 9: detok is a MapInArrow barrier —
    # exactly ONE per branch (markers + routed). The pre-round-9 plan
    # showed 3 ArrowEvalPython for the same two branches because the
    # optimizer duplicated the markers-branch detok UDF below its own
    # pushed-down filter (guide par.4.4); the barrier form cannot be
    # duplicated, so a count regression here means a third parse pass
    # appeared.
    assert nodes.count("MapInArrow") == 2, nodes
    assert nodes.count("ArrowEvalPython") == 0, nodes


def test_healer_asof_sparse_equals_full_window(spark):
    """Round 9 moved healer attribution off the full-event window onto
    the sparse FA/exit/absorb union. The exactness claim — window values
    at a row depend only on rows <= it, and only FA/exit rows feed the
    three window functions — is re-derived here: healer_asof over the
    FULL routed frame and over the sparse union must agree on every
    absorb-credit row."""
    from pyspark.sql import functions as F

    from team_goldo_combat_log_parser_spark.plans.pipeline import run_pipeline
    from team_goldo_combat_log_parser_spark.plans.route import healer_asof
    from team_goldo_combat_log_parser_spark.sources import datagen as dg

    logs = [dg.sample_file_log(),
            *dg.synth_corpus(dg.GenConfig(n_logs=2, fights_per_log=3,
                                          rows_per_fight=60, seed=7))]
    res = run_pipeline(spark, dg.token_df(spark, logs), cache=False)
    routed = res.routed
    credit = (F.col("r_damage_received") & F.col("m_absorb")
              & ~F.col("m_miss") & (F.col("absorbed") <= F.col("amount"))
              & F.col("fight_seq").isNotNull() & F.col("finished")
              & ~F.coalesce(F.col("is_duplicate"), F.lit(False)))
    full = {(r["log_id"], r["line_no"]): r["healer_id"]
            for r in healer_asof(routed).filter(credit)
            .select("log_id", "line_no", "healer_id").collect()}
    sparse_rows = routed.filter(F.col("r_fa") | F.col("is_exit_row")
                                | credit)
    sparse = {(r["log_id"], r["line_no"]): r["healer_id"]
              for r in healer_asof(sparse_rows).filter(credit)
              .select("log_id", "line_no", "healer_id").collect()}
    assert len(full) > 0  # the sample log has absorb credits
    assert sparse == full


def test_healer_asof_sparse_equals_full_window_entry_corpus(spark):
    """The same sparse-vs-full healer_asof check over the registry's own
    combat corpus (fixture + synth + adversarial: absorb credits and a
    Force-Armor healer set before combat), which needs no sample file."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from team_goldo_combat_log_parser_spark.plans.pipeline import run_pipeline
    from team_goldo_combat_log_parser_spark.plans.route import healer_asof
    from team_goldo_combat_log_parser_spark.sources import datagen as dg

    res = run_pipeline(spark, dg.token_df(spark, entry_mod._combat_corpus()),
                       cache=False)
    routed = res.routed
    credit = (F.col("r_damage_received") & F.col("m_absorb")
              & ~F.col("m_miss") & (F.col("absorbed") <= F.col("amount"))
              & F.col("fight_seq").isNotNull() & F.col("finished")
              & ~F.coalesce(F.col("is_duplicate"), F.lit(False)))

    def healers(rows):
        return {(r["log_id"], r["line_no"]): r["healer_id"]
                for r in healer_asof(rows).filter(credit)
                .select("log_id", "line_no", "healer_id").collect()}

    full = healers(routed)
    sparse = healers(routed.filter(F.col("r_fa") | F.col("is_exit_row")
                                   | credit))
    assert len(full) > 0
    assert sparse == full


def test_near_dup_plan_is_banded_not_cartesian(spark, sf001):
    """emb_cosine_near_dup must stay an equi-join on (band, key): a
    regression to CartesianProduct/BroadcastNestedLoop would be brute
    force with extra steps at 10^9 vectors. Its prefilter is the JVM
    double fold, so the plan (the band keys come from the checkpointed
    postings) has no Python hop."""
    from team_goldo_combat_log_parser_spark.operators.similarity import (
        emb_cosine_near_dup)

    plan = plan_of(emb_cosine_near_dup(spark, sf001))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_clean_corpus_shuffle_budget(spark):
    """doc_clean_corpus claims two exchanges (dedup window on md5(text),
    budget window on source) and zero Python UDFs — pin it so a later
    edit can't silently add a shuffle or drop to a per-row UDF."""
    import re

    from team_goldo_combat_log_parser_spark.operators import text

    plan = plan_of(text.doc_clean_corpus(spark, SF))
    nodes = [re.sub(r"^\s*\(\d+\)\s*", "", ln).strip()
             for ln in plan.splitlines() if re.match(r"^\s*\(\d+\)", ln)]
    # 2 hash exchanges + the final orderBy's range exchange
    hash_ex = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
    assert len(hash_ex) == 2, hash_ex
    assert nodes.count("Window") == 2, nodes
    assert not any("Python" in n for n in nodes), nodes


def test_unigram_nll_plan(spark):
    """doc_unigram_nll joins the vocab by broadcast and buckets with a
    single NTILE(3) window: no shuffled hash join on token, and the
    terciles come from the window, not a driver-side quantile sketch."""
    from team_goldo_combat_log_parser_spark.operators import text

    plan = plan_of(text.doc_unigram_nll(spark, SF))
    assert "ntile" in plan and "ShuffledHashJoin" not in plan, plan


def test_results_page_plans_as_topk(spark):
    """combat_results_page = sort DESC + limit: must plan as
    TakeOrderedAndProject (per-partition top-K), not a global Sort
    followed by CollectLimit."""
    import __spark_entry__ as entry_mod

    df = entry_mod._combat("results_page", limit=5)(spark, SF)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_decontaminate_broadcasts_eval_side(spark):
    """doc_decontaminate's eval split is tiny by definition, so both the
    train/eval separation and the gram match must be broadcast joins —
    a regression to SortMergeJoin (or worse, a nested loop) would shuffle
    the full training gram set against a dimension-sized eval set."""
    from team_goldo_combat_log_parser_spark.operators import text

    plan = plan_of(text.doc_decontaminate(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_mix_weights_broadcasts_grand_total(spark):
    """doc_mix_weights joins the single grand-total row back onto the
    per-source aggregate: that must be a broadcast (nested-loop over one
    row is fine), never a shuffled join, and the scan must prune to the
    two columns the operator reads."""
    from team_goldo_combat_log_parser_spark.operators import text

    plan = plan_of(text.doc_mix_weights(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" in read and "doc_id" not in read and "lang" not in read, read


def test_pivot_unpivot_roundtrip_zero_fill(spark, tmp_path):
    """The driver corpus has every (priority, status) combo, so its
    correctness row never exercises the pivot's na.fill(0) / the
    oracle's COALESCE(n, 0) path. A synthetic orders table with a
    missing combo must round-trip to an explicit zero row, identical in
    both engines."""
    import duckdb

    from team_goldo_combat_log_parser_spark.operators.relational import (
        ORACLE_SQL, pivot_unpivot_roundtrip)

    rows = [(1, "1-URGENT", "F"), (2, "1-URGENT", "O"),
            (3, "2-HIGH", "P")]  # 2-HIGH has no F/O; 1-URGENT no P
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_orderstatus string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet"))

    got = [tuple(r) for r in
           pivot_unpivot_roundtrip(spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW orders AS SELECT * FROM "
            f"'{tmp_path}/orders.parquet/*.parquet'")
    want = [tuple(r) for r in
            con.sql(ORACLE_SQL["pivot_unpivot_roundtrip"]).fetchall()]
    assert got == want
    assert ("2-HIGH", "F", 0) in got and ("1-URGENT", "P", 0) in got


def test_merged_queries_add_no_shuffles(spark):
    """The round-7 entry merges must not cost plan quality: the running
    sum added to asof_carry_forward shares the as-of window's single
    partition exchange (same (partition, order) spec -> one sort, no
    second shuffle), and pivot_unpivot_roundtrip's scan prunes to the
    two columns the pivot reads."""
    import re

    plan = plan_of(relational.asof_carry_forward(spark, SF))
    # one data exchange for the user_id window + the presentation sort's
    # rangepartitioning exchange — nothing else
    nodes = [re.sub(r"^\s*\(\d+\)\s*", "", ln).strip()
             for ln in plan.splitlines() if re.match(r"^\s*\(\d+\)", ln)]
    assert nodes.count("Exchange") <= 2, nodes

    plan = plan_of(relational.pivot_unpivot_roundtrip(spark, SF))
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderstatus" in read and "o_orderpriority" in read, read
    assert "o_totalprice" not in read and "o_comment" not in read, read


def test_simhash_filters_hamming_before_dedup_exchange(spark):
    """doc_simhash_near_pairs (round 8): the hamming filter must sit
    BELOW the (a, b) dedup exchange — the ~93x candidate shrink is the
    point of the rewrite, and a regression to dedup-then-filter would
    ship every spurious chunk collision through the shuffle again."""
    from team_goldo_combat_log_parser_spark.operators import text

    plan = plan_of(text.doc_simhash_near_pairs(spark, SF))
    lines = plan.splitlines()
    # Catalyst folds the predicate straight into the join condition —
    # every candidate is distance-tested during the probe, before any
    # post-join operator sees it
    join_cond = next(i for i, ln in enumerate(lines)
                     if "Join condition" in ln and "bit_count" in ln)
    # formatted plans number nodes in execution order: the map-side
    # partial dedup and then the one (a, b) exchange must come AFTER
    # the join condition line (i.e. they consume filtered rows)
    partial = next(i for i, ln in enumerate(lines) if "partial_first" in ln)
    dedup_ex = next(i for i, ln in enumerate(lines)
                    if "hashpartitioning(a#" in ln)
    assert join_cond < partial < dedup_ex, plan
    # exactly one hash exchange in the whole plan — the pair dedup
    hash_ex = [ln for ln in lines if "hashpartitioning" in ln]
    assert len(hash_ex) == 1, hash_ex
