"""Drills for the plan memo (wikihadoop_spark.memo) and the prepared
query plans built on it (relational.py).

A memo hit on an allowlisted query hands back the memoized logical
plan under a fresh Dataset, which is legal only because those builds
are pure plan assembly.  These drills check the four eligibility
conditions for EVERY allowlisted name (so a future edit that adds a
build job, a persist, an off-catalog scan or a temp-view lookup to a
memoized query fails loudly here), and the memo's key rule: file
rewrites, sf dirs, sessions and contexts each get their own entry, and
the store stays bounded.
"""

from __future__ import annotations

import os
import re
import shutil
import types

import pytest
from pyspark.sql import functions as F

from wikihadoop_spark import memo
from wikihadoop_spark.catalog import TABLE_NAMES, load_table
from wikihadoop_spark.relational import (
    _PURE_PLAN_QUERIES,
    QUERIES,
)

SF = "/root/testdata/sf0.001"
SF_B = os.path.join(os.path.dirname(SF), "sf0.01")


def _logical(df):
    return df._jdf.queryExecution().logical()


def _same_plan(a, b) -> bool:
    """True when ``b`` is a re-wrap of ``a``'s memoized logical plan; a
    fresh build allocates new expression ids, so its plan never equals
    an earlier one."""
    return _logical(a).equals(_logical(b))


def _local_files(df) -> list[str]:
    return [os.path.realpath(f.replace("file:", "")) for f in df.inputFiles()]


def test_allowlisted_builds_are_pure_plan_assembly(spark):
    """Every allowlisted build must (a) run zero Spark jobs, (b) leave
    no persisted relation in the optimized plan, (c) scan only the ten
    catalog tables under sf_dir, and (d) hold no UnresolvedRelation in
    the memoized logical plan.  Violating (a)-(c) would turn the plan
    memo into result caching; violating (d) lets a memo hit resolve a
    temp view that another sf dir registered since."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for t in TABLE_NAMES:  # warm table frames: first-touch footer
        load_table(spark, SF, t)  # inference is load_table's job
    ok_prefixes = tuple(
        os.path.realpath(f"{SF}/{t}.parquet") for t in TABLE_NAMES
    )
    offenders = {}
    for name in sorted(_PURE_PLAN_QUERIES):
        group = f"prepared-drill-{name}"
        sc.setJobGroup(group, name)
        try:
            df = QUERIES[name](spark, SF)
            jobs = len(tracker.getJobIdsForGroup(group))
            opt = df._jdf.queryExecution().optimizedPlan().toString()
            bad = [f for f in _local_files(df) if not f.startswith(ok_prefixes)]
            unresolved = "UnresolvedRelation" in _logical(df).toString()
            if jobs or "InMemoryRelation" in opt or bad or unresolved:
                offenders[name] = {
                    "build_jobs": jobs,
                    "persisted": "InMemoryRelation" in opt,
                    "off_catalog_scans": bad[:3],
                    "unresolved_relation": unresolved,
                }
        finally:
            sc.setJobGroup(None, None)
    assert not offenders, (
        "queries in _PURE_PLAN_QUERIES whose build is no longer pure "
        f"plan assembly — remove them from the allowlist: {offenders}"
    )


def test_memo_hit_never_crosses_sf_dirs(spark):
    """A→B→A over every memoized query: the third call, a memo hit at
    A, must scan only A's files.  ``inputFiles`` reads the analyzed
    plan, so the check runs no Spark job."""
    real_a = os.path.realpath(SF) + os.sep
    crossed = {}
    for name in sorted(_PURE_PLAN_QUERIES):
        QUERIES[name](spark, SF)
        QUERIES[name](spark, SF_B)
        files = _local_files(QUERIES[name](spark, SF))
        bad = [f for f in files if not f.startswith(real_a)]
        if bad:
            crossed[name] = bad[:2]
    assert not crossed, f"memo hits that scan another sf dir: {crossed}"


def test_repeat_invocation_reuses_logical_plan_replans_physical(spark):
    """A memo hit hands the CACHED logical plan to a FRESH Dataset:
    the py4j plan-assembly chain is amortized, but physical planning
    must honor the caller's CURRENT session confs (a frozen
    QueryExecution would leak conf state across invocations)."""
    df1 = QUERIES["q1_pricing_summary"](spark, SF)
    df2 = QUERIES["q1_pricing_summary"](spark, SF)
    assert df1 is not df2  # fresh Dataset per invocation...
    assert _same_plan(df1, df2)  # ...over the SAME memoized logical plan
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        df3 = QUERIES["q1_pricing_summary"](spark, SF)
        plan = df3._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"hashpartitioning\([^)]*, 3\)", plan), plan
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_frames_are_bound_to_and_planned_under_the_callers_session(spark):
    """Under ``newSession()`` both a catalog table frame and a prepared
    plan memo hit belong to the caller's session and are planned with
    its conf, never with that of the session that built the first
    entry."""
    name = "q1_pricing_summary"
    load_table(spark, SF, "orders")  # entries of the first session
    QUERIES[name](spark, SF)
    s2 = spark.newSession()
    n = int(spark.conf.get("spark.sql.shuffle.partitions")) + 3
    s2.conf.set("spark.sql.shuffle.partitions", str(n))
    table = load_table(s2, SF, "orders")
    first = QUERIES[name](s2, SF)
    hit = QUERIES[name](s2, SF)
    assert _same_plan(first, hit)
    for df in (table, hit):
        assert df.sparkSession is s2
        assert df._jdf.sparkSession().equals(s2._jsparkSession)
    for df in (table.groupBy("o_orderstatus").count(), hit):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(rf"hashpartitioning\([^)]*, {n}\)", plan), plan


@pytest.mark.parametrize("jvm", ["missing", "without_classic_dataset"])
def test_memo_hit_falls_back_to_fresh_build(spark, monkeypatch, jvm):
    """Without ``spark._jvm`` or the classic ``Dataset`` class a memo
    hit cannot re-wrap its plan; it must build afresh, not raise."""
    name = "q1_pricing_summary"
    cached = QUERIES[name](spark, SF)
    assert _same_plan(cached, QUERIES[name](spark, SF))  # memoized
    fake = (
        None
        if jvm == "missing"
        else types.SimpleNamespace(org=spark._jvm.no_such_package)
    )
    with monkeypatch.context() as m:
        m.setattr(spark, "_jvm", fake)
        df = QUERIES[name](spark, SF)
    assert not _same_plan(cached, df)  # a fresh build, not the entry
    fresh = QUERIES[name].__wrapped__(spark, SF)
    assert sorted(df.collect()) == sorted(fresh.collect())


def test_non_allowlisted_query_is_not_memoized(spark):
    # sample_mixture's build scans range boundaries (real jobs) — it
    # must rebuild every invocation
    assert "sample_mixture" not in _PURE_PLAN_QUERIES
    a = QUERIES["sample_mixture"](spark, SF)
    b = QUERIES["sample_mixture"](spark, SF)
    assert not _same_plan(a, b)


def test_table_rewrite_invalidates_prepared_plan(spark, tmp_path):
    """The memo key carries every catalog table's (mtime_ns, size):
    rewriting any input must yield a fresh entry, never a stale one."""
    sfd = tmp_path / "sf"
    sfd.mkdir()
    for t in TABLE_NAMES:
        shutil.copyfile(f"{SF}/{t}.parquet", sfd / f"{t}.parquet")
    q = QUERIES["q1_pricing_summary"]
    first = q(spark, str(sfd))
    assert _same_plan(first, q(spark, str(sfd)))  # hit
    # rewrite one input (fresh mtime): the stat key must miss
    li = sfd / "lineitem.parquet"
    os.utime(li, ns=(os.stat(li).st_mtime_ns + 1, os.stat(li).st_mtime_ns + 1))
    rebuilt = q(spark, str(sfd))
    assert not _same_plan(first, rebuilt)
    assert _same_plan(rebuilt, q(spark, str(sfd)))  # the new entry


def test_memo_entries_die_with_their_context(spark, monkeypatch):
    """Memoized Columns hold JVM references: an entry built under one
    context is never served under another (a restarted JVM rebuilds),
    and the bound ages out the entries of a context that is gone."""
    from wikihadoop_spark.relational import dec2

    live = dec2("l_quantity")
    assert dec2("l_quantity") is live
    with monkeypatch.context() as m:
        m.setattr(spark.sparkContext, "_wikihadoop_ctx_ident", ("restarted", 0))
        assert dec2("l_quantity") is not live
    assert dec2("l_quantity") is live
    for i in range(memo.BOUND):
        memo.memo(None, ("filler", i), lambda i=i: i)
    assert dec2("l_quantity") is not live


def test_store_stays_bounded_under_distinct_centroid_sets(spark):
    """Probe expressions are keyed on the K×D centroid values, so every
    distinct index adds an entry; the single LRU bound caps the store
    and keeps the newest."""
    from wikihadoop_spark.operators.quantize import nprobe_clusters

    qvec = F.col("q")
    for i in range(memo.BOUND + 8):
        nprobe_clusters(qvec, [[i]], 1)
    assert len(memo._STORE) <= memo.BOUND
    newest = nprobe_clusters(qvec, [[memo.BOUND + 7]], 1)
    assert nprobe_clusters(qvec, [[memo.BOUND + 7]], 1) is newest
