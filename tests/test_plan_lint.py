"""Plan lint: every registered query's PHYSICAL plan is scale-shaped.

Turns docs/SCALE.md's claims into an executable invariant over the whole
registry:

- no ``CartesianProduct`` (a non-broadcast cross join is never OK);
- no partition-less Window (a window whose spec has ordering but no
  partition columns funnels the whole input through one task);
- ``BroadcastNestedLoopJoin`` only where the broadcast side is either a
  scalar (keyless aggregate — the crossJoin(broadcast(agg())) pattern used
  to attach min/max/count scalars) or on the explicit allowlist below with
  a bounded-cardinality justification.

If a future change introduces a new nested-loop join or global window,
this test fails and forces a review.
"""

from __future__ import annotations

import re

import pytest

from logdata_anomaly_miner_spark.engine_queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

# Non-scalar BNLJ allowances: query -> why the broadcast side is bounded.
BNLJ_ALLOW = {
    # candidate (a, b) hypothesis pairs — |event types|² rows; type
    # vocabularies are bounded by the parser model, not the data volume
    "hypothesis_rules": "type-pair vocabulary, |types|^2",
    "hypothesis_rules_back": "type-pair vocabulary, |types|^2",
    # _carry_join per-range summary self-join — |range buckets|² rows
    # (two-phase prefix scan, documented in operators/timestamps.py)
    "monotonic_adjust": "range-bucket summary self-join, |ranges|^2",
    # contingency completion: per-variable marginals cross — bounded by
    # the discrete vocabularies of the variable pair
    "chi2_pairs": "marginal cross of bounded discrete vocabularies",
}


def _split_top(s: str) -> list[str]:
    out, depth, cur = [], 0, ""
    for ch in s:
        if ch == "(":
            depth += 1
        if ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        out.append(cur.strip())
    return out


def partitionless_windows(plan: str) -> list[str]:
    """windowspecdefinition args are: partition cols (bare exprs), then
    order specs ('col ASC NULLS FIRST'), then the frame. If the FIRST
    pre-frame arg already carries a sort direction there are no partition
    columns."""
    hits = []
    for m in re.finditer(r"windowspecdefinition\((.*?specifiedwindowframe)", plan):
        args = _split_top(m.group(1))[:-1]
        if args and re.search(r"(ASC|DESC) NULLS (FIRST|LAST)$", args[0]):
            hits.append(args[0][:60])
    return hits


def nonscalar_bnlj(plan: str) -> list[str]:
    """IdentityBroadcastMode exchanges (the BNLJ build side) whose subtree
    is NOT a keyless (scalar) aggregate."""
    lines = plan.splitlines()
    issues = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange IdentityBroadcastMode" not in ln:
            continue
        # leaf references and section boundaries have no subtree below THIS
        # line — the same exchange is printed with its full subtree at its
        # definition site, where the scalar check runs for real
        nxt_line = lines[i + 1].strip() if i + 1 < len(lines) else ""
        if "ReusedExchange" in ln or nxt_line.endswith("=="):
            continue
        indent = len(ln) - len(ln.lstrip(" :+-"))
        scalar = False
        for j in range(i + 1, min(i + 20, len(lines))):
            nxt = lines[j]
            if "keys=[]" in nxt or "key=[]" in nxt:
                scalar = True
                break
            # AQE wrappers are transparent for the structure walk: a cached
            # subplan that was materialized before this plan was printed
            # embeds BroadcastQueryStage/ShuffleQueryStage nodes and
            # "== Initial/Final Plan ==" banners (at banner-level indent)
            # between the exchange and its aggregate
            if (
                "QueryStage" in nxt
                or "AdaptiveSparkPlan" in nxt
                or "Exchange" in nxt
                or nxt.strip().startswith("==")
            ):
                continue
            if len(nxt) - len(nxt.lstrip(" :+-")) <= indent:
                break
        if not scalar:
            issues.append((lines[i + 1].strip() if i + 1 < len(lines) else "?")[:100])
    return issues


# Queries whose CONSTRUCTION legitimately runs Spark jobs, with why.
# Everything else must build its plan lazily: a collect/count at plan time
# adds a full scan per invocation and makes the query fn impure.
CONSTRUCT_JOB_ALLOW = {
    # KMeans codebook training is iterative (documented: offline at scale)
    "ann_ivf": "inline KMeans codebook fit + query-vector fetch",
    # synthesizes + persists its own corpus, then reruns the suites on it
    "suite_verdicts": "writes synthesized corpus parquet for the oracle",
    # ANN queries take a user-supplied query vector; the 1-row pushed-down
    # fetch of vec_id=0 SIMULATES that user input (the public API takes a
    # Python list, which is the right shape for a search parameter)
    "ann_topk": "query-vector fetch (1 row, filter pushed down)",
    "ann_lsh": "query-vector fetch (1 row, filter pushed down)",
    # 257x257 bigram log-prob matrix collected into the pandas-UDF closure:
    # bounded by alphabet^2, never by data volume (VERDICT r3 audit)
    "entropy_score": "bounded 257^2 matrix into scorer closure",
    # localCheckpoint pins monotonically_increasing_id before a self-join
    # (two lazy evaluations would disagree); the materialization is reused
    # by the execution, so it is a cache build, not a wasted scan
    "time_corr_features": "localCheckpoint pinning mono-id (reused)",
    "jaccard_pairs": "localCheckpoint pinning mono-id (reused)",
    "jaccard_pairs_xx": "localCheckpoint pinning mono-id (reused)",
    # eager localCheckpoint of the (pair, chunk, combo) count cube: many
    # plan branches consume it and a lazy persist lets the first action
    # race-compute it; blocks are ContextCleaner-freed on GC
    "var_corr_validate": "localCheckpoint of the count cube (reused)",
    # eager localCheckpoint of each variant's bounded lagged window frame
    # (|windows|·|keys| rows): fit/scored/sigma branches all consume it and
    # Catalyst does not CSE duplicated subplans (r8 optimization)
    "tsa": "localCheckpoint of the lagged window frames (reused)",
}


@pytest.mark.parametrize("name", list(QUERIES))
def test_registered_plan_is_scale_shaped(spark, name):
    sc = spark.sparkContext
    group = f"planlint-{name}"
    sc.setJobGroup(group, "plan-construction purity probe")
    try:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        sc.setJobGroup(None, None)
    if name not in CONSTRUCT_JOB_ALLOW:
        # Parquet footer/schema-inference jobs (stage callsite "parquet at
        # ...") are driver metadata reads, not data scans — every
        # spark.read.parquet fires one. Anything else (collect/count/
        # toPandas callsites) is a real scan at plan time and fails.
        tracker = sc.statusTracker()
        scans = []
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            names = [
                getattr(tracker.getStageInfo(s), "name", "") or ""
                for s in (info.stageIds if info else [])
            ]
            if not all(n.startswith(("parquet at", "json at")) for n in names):
                scans.append((jid, names))
        assert not scans, (
            f"{name}: plan construction ran data-scan job(s) {scans} — "
            "query fns must be pure plan builders (ride scalars in-plan "
            "via broadcast crossJoin, see q_drift_psi)"
        )
    assert "CartesianProduct" not in plan, f"{name}: CartesianProduct in plan"
    pw = partitionless_windows(plan)
    assert not pw, f"{name}: partition-less window over {pw}"
    nb = nonscalar_bnlj(plan)
    if name not in BNLJ_ALLOW:
        assert not nb, f"{name}: non-scalar BroadcastNestedLoopJoin: {nb}"


def test_no_trivially_true_join_predicates(spark, capfd):
    """Round-5 (VERDICT #6): constructing any registered plan must not log
    Spark's "Constructing trivially true equals predicate" warning — it
    means a self-join condition compares a column to ITSELF (both sides
    resolved to one attribute), i.e. the predicate the author wrote is not
    the one Catalyst will run. The JVM is a child of this process, so its
    stderr is visible to capfd; the warning fires at Column construction
    time, so building the plans (no execution) is sufficient."""
    capfd.readouterr()  # drain anything earlier
    for name, fn in QUERIES.items():
        df = fn(spark, SF_DIR)
        df._jdf.queryExecution().executedPlan()  # force full analysis
    err = capfd.readouterr().err
    assert "trivially true" not in err, (
        "a registered query constructs a self-equal join predicate:\n"
        + "\n".join(l for l in err.splitlines() if "trivially true" in l)
    )


# ---------------------------------------------------------------------------
# ReadSchema pruning regressions (round-6 VERDICT item 6): docs/SCALE.md's
# column-pruning claims, locked in as explain("formatted") assertions so a
# refactor (like the r6 merged scan) cannot silently de-prune a standalone
# check. Each case names the plan it guards.
# ---------------------------------------------------------------------------


def _scan_schemas(df, loc_substr):
    """ReadSchema strings of every parquet scan in the formatted physical
    plan whose Location matches ``loc_substr``."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    out = []
    # detail sections look like "(1) Scan parquet \n Output ... \n
    # Location: InMemoryFileIndex [...] \n ReadSchema: struct<...>"
    cur_is_scan, cur_loc = False, ""
    for ln in plan.splitlines():
        if re.match(r"^\(\d+\) Scan parquet", ln):
            cur_is_scan, cur_loc = True, ""
            continue
        if re.match(r"^\(\d+\) ", ln):
            cur_is_scan = False
            continue
        if cur_is_scan and ln.startswith("Location:"):
            cur_loc = ln
        if cur_is_scan and ln.startswith("ReadSchema:"):
            if loc_substr in cur_loc:
                out.append(ln.replace("ReadSchema:", "").strip())
    return out


@pytest.fixture(scope="module")
def pruning_corpus(spark, tmp_path_factory):
    from logdata_anomaly_miner_spark.datagen import gen_documents, gen_media

    root = str(tmp_path_factory.mktemp("prune"))
    gen_documents(spark, n_docs=200).coalesce(1).write.parquet(f"{root}/docs.parquet")
    gen_media(spark, 50).coalesce(1).write.parquet(f"{root}/media.parquet")
    return root


def test_readschema_uniqueness_scans_only_doc_id(spark, pruning_corpus):
    """SCALE.md: 'uniqueness reads ONLY doc_id'."""
    from logdata_anomaly_miner_spark.constraints.uniqueness import (
        duplicate_keys_salted,
    )

    docs = spark.read.parquet(f"{pruning_corpus}/docs.parquet")
    plan = duplicate_keys_salted(docs, ["doc_id"])
    schemas = _scan_schemas(plan, "docs.parquet")
    assert schemas == ["struct<doc_id:string>"], schemas


def test_readschema_referential_prunes_nested_media_ref(spark, pruning_corpus):
    """SCALE.md: the dangling-ref scan reads only spans.media_ref — the
    field-explode form keeps nested pruning alive (posexplode would not,
    constraints/referential.py docstring)."""
    from logdata_anomaly_miner_spark.constraints.referential import (
        dangling_media_refs,
    )

    docs = spark.read.parquet(f"{pruning_corpus}/docs.parquet")
    media = spark.read.parquet(f"{pruning_corpus}/media.parquet")
    plan = dangling_media_refs(docs, media)
    schemas = _scan_schemas(plan, "docs.parquet")
    assert schemas == ["struct<spans:array<struct<media_ref:string>>>"], schemas


def test_readschema_var_gof_scans_three_event_columns(spark):
    """The var_gof oracle plan must scan only (event_id, event_type, value)
    of the events table — ts/user_id/props pruned."""

    plan = QUERIES["var_gof"](spark, SF_DIR)
    schemas = _scan_schemas(plan, "events.parquet")
    assert schemas, "no events scan found"
    for s in schemas:
        assert s == "struct<event_id:bigint,event_type:string,value:double>", s


def test_readschema_dedup_exact_prunes_documents(spark):
    """dedup_exact normalizes text per doc: only (doc_id, text) may be
    read from the documents table."""

    plan = QUERIES["dedup_exact"](spark, SF_DIR)
    schemas = _scan_schemas(plan, "documents.parquet")
    assert schemas, "no documents scan found"
    # the fault-seeding union branch needs (doc_id, text); the main branch
    # prunes all the way to text-only (doc_id never survives the grouper)
    allowed = {"struct<doc_id:bigint,text:string>", "struct<text:string>"}
    for s in schemas:
        assert s in allowed, s
    assert "struct<text:string>" in schemas
