"""Guards that keep generated docs and driver-priority lists from going
stale as operators are added (VERDICT.md round 2, items 1-2: OPERATORS.md
listed 148 of 149 ops; priority.py was frozen to round-1 state)."""

from __future__ import annotations

import re
from pathlib import Path

from un_datapipeline_spark import priority
from un_datapipeline_spark.registry import all_operators

REPO = Path(__file__).resolve().parent.parent


def test_operators_md_matches_registry():
    """OPERATORS.md must list exactly the registered operators."""
    text = (REPO / "OPERATORS.md").read_text()
    listed = set(re.findall(r"^\| `([a-z0-9_]+)` \|", text, re.M))
    registered = set(all_operators())
    assert listed == registered, (
        f"OPERATORS.md stale: missing {sorted(registered - listed)}, "
        f"extra {sorted(listed - registered)} — regenerate with "
        f"`python -m un_datapipeline_spark.inventory`"
    )


def _correctness_files() -> list[Path]:
    """Every driver correctness file present, in round order — the
    regeneration basis tracks the current round automatically instead of
    hardcoding r01–r03 (which went stale when round 4 landed)."""
    return sorted(REPO.glob("CORRECTNESS_r*.json"))


def test_priority_lists_match_correctness_union():
    """DRIVER_GREEN must equal the set of ops with a green verdict in the
    union of all CORRECTNESS_r*.json files, and the two literal lists must
    be disjoint with no typos."""
    import json

    union: set[str] = set()
    for path in _correctness_files():
        data = json.loads(path.read_text())
        for name, res in data.items():
            # green = hash-match or contracted rows-only (no_oracle), and
            # never an error/failure on the latest verdict
            if res.get("err") in (None, "no_oracle") and res.get("hash_match") is not False:
                union.add(name)
    registered = set(all_operators())
    nv = set(priority.NEVER_VERIFIED)
    green = set(priority.DRIVER_GREEN)
    assert not (nv & green)
    assert green == union, (
        f"DRIVER_GREEN drifted from correctness union: "
        f"missing {sorted(union - green)}, extra {sorted(green - union)}"
    )
    known = nv | green
    assert not (known - registered), f"priority names not in registry: {sorted(known - registered)}"


def test_unverified_ops_fill_driver_slots():
    """The driver checks the first 50 queries() entries; never-verified /
    non-green ops must lead, then the STALE_REFRESH greens (a few oldest
    verdicts re-confirmed every round — the transpose incident), then
    new-this-round ops, then the greens, with deliberately DEFERRED ops
    parked at the very end (they must never displace the round's
    verification plan)."""
    order = list(all_operators())
    nv = list(priority.NEVER_VERIFIED)
    assert order[: len(nv)] == nv
    refresh = [n for n in priority.STALE_REFRESH if n not in nv]
    assert order[len(nv) : len(nv) + len(refresh)] == refresh, (
        "STALE_REFRESH greens must sit right after NEVER_VERIFIED so they "
        "land inside the 50-slot driver window"
    )
    # refresh names must be real greens, not a side door for new ops
    assert set(refresh) <= set(priority.DRIVER_GREEN)
    tail = order[len(nv) + len(refresh) :]
    deferred = set(priority.DEFERRED)

    def grp(n: str) -> int:
        if n in deferred:
            return 2
        return 1 if n in priority.DRIVER_GREEN else 0

    groups = [grp(n) for n in tail]
    assert groups == sorted(groups), (
        "ordering violated: new-unverified < green < deferred expected"
    )


# The deliberate Python-boundary operators: UDF/UDTF contract surfaces,
# Arrow-batched vector kernels (broadcast-probe matmul, ANN, PQ, k-means),
# multimodal decode stubs, and the sequential-recursion time-series ops.
# Everything else must plan JVM-only (whole-stage codegen eligible).
_PYTHON_SURFACE_OPS = frozenset({
    "udf_python_scalar", "udf_pandas_scalar", "udf_pandas_iter",
    "udf_grouped_map", "udaf_grouped_agg", "udtf_split_words",
    "udtf_dynamic_schema", "udtf_table_arg", "fn_map",
    "udf_grouped_arrow", "udf_map_arrow",
    "llm_simsearch_cosine_topk", "llm_knn_join", "llm_hard_negatives",
    "llm_simsearch_ivf", "llm_simsearch_hnsw", "llm_vector_pq",
    "llm_kmeans_cluster", "llm_semdedup", "llm_dedup_embedding",
    "agg_heavy_hitters_mg",
    "mm_decode_features", "mm_frame_sample", "mm_audio_windows",
    "ts_ewma_smooth", "ts_holt_forecast", "ts_lttb_downsample",
})

_PY_MARKERS = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
    "FlatMapGroupsInPandas",
)


def _plans_rows() -> dict[str, str]:
    text = (REPO / "PLANS.md").read_text()
    rows: dict[str, str] = {}
    for line in text.splitlines():
        m = re.match(r"^([a-z0-9_]+): (.+)$", line)
        if m:
            rows[m.group(1)] = m.group(2)
    return rows


def test_plans_md_matches_registry():
    """PLANS.md (the generated physical-plan audit) must cover exactly the
    registered operators — a stale plan table hides plan regressions."""
    rows = _plans_rows()
    registered = set(all_operators())
    assert set(rows) == registered, (
        f"PLANS.md stale: missing {sorted(registered - set(rows))}, "
        f"extra {sorted(set(rows) - registered)} — regenerate with "
        f"`python -m un_datapipeline_spark.plans --all`"
    )


def test_no_cartesian_product_in_any_plan():
    """No operator may plan a CartesianProduct — the one join shape that
    can never survive a 100× scale-up.  (Singleton-broadcast cross joins
    plan as BroadcastNestedLoopJoin with a 1-row side, not Cartesian.)"""
    offenders = [n for n, mk in _plans_rows().items() if "CartesianProduct" in mk]
    assert not offenders, f"CartesianProduct planned by: {offenders}"


def test_python_eval_confined_to_declared_surface():
    """Python-eval plan nodes (the slow, non-codegen lane) may appear only
    in the operators whose PURPOSE is a Python boundary.  A Python node
    leaking into a relational/agg/join plan is a hot-path regression."""
    offenders = {
        n: mk
        for n, mk in _plans_rows().items()
        if any(p in mk for p in _PY_MARKERS) and n not in _PYTHON_SURFACE_OPS
    }
    assert not offenders, f"unexpected Python-eval boundary: {offenders}"


def test_regen_priority_tool_matches_checked_in_lists():
    """tools/regen_priority.py applied to the same correctness files must
    reproduce priority.py's green set — guards both against tool bugs
    and against hand edits drifting from the generated procedure."""
    import importlib.util
    import io
    import sys
    from contextlib import redirect_stdout

    sys.path.insert(0, str(REPO / "tools"))
    import regen_priority

    buf = io.StringIO()
    with redirect_stdout(buf):
        regen_priority.main([str(p) for p in _correctness_files()])
    spec = importlib.util.spec_from_loader("pr_gen", loader=None)
    mod = importlib.util.module_from_spec(spec)
    exec(buf.getvalue(), mod.__dict__)

    from un_datapipeline_spark import priority

    assert set(mod.DRIVER_GREEN) == set(priority.DRIVER_GREEN)
    # every currently-listed never-verified name must not be green
    assert not (set(priority.NEVER_VERIFIED) & set(mod.DRIVER_GREEN))
    # STALE_REFRESH: REFRESH_COUNT greens, FORCE_REFRESH (greens re-edited
    # after their last driver stamp — their old stamp is void) leading,
    # then stalest-first auto picks whose families are distinct from each
    # other AND from every earlier name (the refresh must span modules,
    # not re-check five neighbours) — and the checked-in list matches the
    # tool's output.
    assert tuple(mod.STALE_REFRESH) == tuple(priority.STALE_REFRESH)
    forced = [
        n for n in regen_priority.FORCE_REFRESH if n in set(mod.DRIVER_GREEN)
    ]
    # ALL forced names get slots (never truncated — ADVICE r07); auto
    # stalest-green picks only fill up to the REFRESH_COUNT total.
    assert len(mod.STALE_REFRESH) == max(
        regen_priority.REFRESH_COUNT, len(forced)
    )
    assert list(mod.STALE_REFRESH[: len(forced)]) == forced
    fams = [n.split("_", 1)[0] for n in mod.STALE_REFRESH]
    auto_fams = fams[len(forced):]
    assert len(set(auto_fams)) == len(auto_fams), f"family collision: {fams}"
    assert not (set(auto_fams) & set(fams[: len(forced)])), (
        f"auto refresh re-checks a forced family: {fams}"
    )
    assert set(mod.STALE_REFRESH) <= set(mod.DRIVER_GREEN)


def test_force_refresh_fits_driver_window():
    """Every FORCE_REFRESH name (an op edited after its last driver stamp
    — old stamp VOID) must land inside the driver's 50-slot window, or
    the round ships edits the driver never re-verifies (VERDICT r08
    item 4: 'verify every edited op appears in the regenerated window
    before handoff' — this pins that manual step as a permanent guard).
    Window = the first 50 of queries() in registry/priority order."""
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    import regen_priority

    window = list(all_operators())[:50]
    missing = [n for n in regen_priority.FORCE_REFRESH if n not in window]
    assert not missing, (
        f"{len(missing)} FORCE_REFRESH names fall outside the 50-slot "
        f"driver window and would ship unverified: {missing} — either "
        "the regen was skipped or forced entries exceed the window"
    )


def test_oracle_edits_force_refresh():
    """Oracle-text tripwire (VERDICT r11 item 5): the src_csv_multiline
    raw-string incident proved a "zero-semantic" string-prefix edit to an
    oracle can change answers — so any op whose CURRENT oracle text
    differs from the committed manifest (tests/oracle_manifest.json, the
    text its latest driver stamp verified) MUST be in FORCE_REFRESH, or
    the edit would ship a full round under a stale-green stamp.  Newly
    registered ops must enter the manifest when they register (they are
    driver-window group 2 regardless).  Regenerate the manifest with
    tools/regen_oracle_manifest.py — mid-round together with the
    FORCE_REFRESH entry, and at the round boundary when stamps land."""
    import importlib.util as _ilu
    import json

    spec = _ilu.spec_from_file_location(
        "regen_priority", REPO / "tools" / "regen_priority.py"
    )
    rp = _ilu.module_from_spec(spec)
    spec.loader.exec_module(rp)
    forced = set(rp.FORCE_REFRESH)

    spec = _ilu.spec_from_file_location(
        "regen_oracle_manifest", REPO / "tools" / "regen_oracle_manifest.py"
    )
    rm = _ilu.module_from_spec(spec)
    spec.loader.exec_module(rm)

    manifest = json.loads((REPO / "tests" / "oracle_manifest.json").read_text())
    ops = all_operators()

    stale = sorted(set(manifest) - set(ops))
    assert not stale, (
        f"manifest lists unregistered ops {stale} — regenerate "
        "tests/oracle_manifest.json (tools/regen_oracle_manifest.py)"
    )
    missing = sorted(set(ops) - set(manifest))
    assert not missing, (
        f"ops missing from the oracle manifest: {missing} — regenerate "
        "tests/oracle_manifest.json when registering an operator"
    )
    drifted = sorted(
        name
        for name, op in ops.items()
        if rm.oracle_hash(op.oracle) != manifest[name] and name not in forced
    )
    assert not drifted, (
        f"oracle text changed WITHOUT a FORCE_REFRESH entry for {drifted} "
        "— the edit would ship under a stale driver stamp; add the op(s) "
        "to tools/regen_priority.py::FORCE_REFRESH, regenerate "
        "priority.py AND tests/oracle_manifest.json, and re-sweep "
        "(raw-string doctrine, ROUND_NOTES r11 item 7)"
    )


def test_vector_kernel_has_one_owner():
    """llm_vectors.py owns the vector-search kernel: the (sim DESC,
    nn_id ASC) top-k window and the per-batch vector matrix appear in no
    other operator module, and no other module carries its own copy of
    the distributed Lloyd assign closure."""
    only_owner = re.compile(r'Window\.partitionBy\("a_id"\)|_vec_matrix\(|def make_assign\b')
    ops = REPO / "un_datapipeline_spark" / "operators"
    hits = [
        f"{p.name}:{n}: {line.strip()}"
        for p in sorted(ops.rglob("*.py"))
        if p.name != "llm_vectors.py"
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if only_owner.search(line)
    ]
    assert not hits, hits


def _oracle_lines(src: str) -> set[int]:
    """Line numbers of module-level ``*_ORACLE`` assignments: reference
    SQL texts, which replay the algorithm in DuckDB on purpose."""
    import ast

    lines: set[int] = set()
    for node in ast.parse(src).body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id.endswith("_ORACLE") for t in node.targets
        ):
            lines.update(range(node.lineno, node.end_lineno + 1))
    return lines


def test_gram_overlap_has_one_owner():
    """dedup_extras.py owns the gram-overlap kernel (doc_trigrams,
    drop_hot, overlap_pairs): no other operator module builds word
    trigrams, caps hub keys or writes the gram-equality self-join
    itself.  Oracle SQL texts are exempt."""
    only_owner = re.compile(r"x\.gram = y\.gram|> MAX_GRAM_DF|trigram_array\(")
    ops = REPO / "un_datapipeline_spark" / "operators"
    hits = []
    for p in sorted(ops.rglob("*.py")):
        if p.name == "dedup_extras.py":
            continue
        src = p.read_text()
        skip = _oracle_lines(src)
        hits += [
            f"{p.name}:{n}: {line.strip()}"
            for n, line in enumerate(src.splitlines(), 1)
            if n not in skip and only_owner.search(line)
        ]
    assert not hits, hits
