"""Roster-drift guard (round-10, VERDICT r9 task #3): the r8/r9 rounds twice
shipped an operator whose evidence artifacts (PLANS.md section, scale-table
row) were missing because the artifact was regenerated before the operator
landed or the roster in tools/plan_report.py was never extended. These tests
make that class of drift a LOCAL failure — the same mechanism that killed the
non-scalar-schema class in r8 (tests/test_entry_contract.py):

1. every name in the plan-audit roster (AUDIT, the audited registry CASES,
   and the plan-only EXTRA_OPS) must have a ``## name`` section in the
   committed PLANS.md — a roster entry without a regenerated audit is stale
   evidence;
2. every bench case (per-round bench + scale-bench extras) must have a row in
   the NEWEST committed SCALE_TABLE_r*.md — a kernel without a 10x row is an
   unmeasured scale claim;
3. every module under ``operators/`` must be represented in the audited
   surface by at least one named query/case, or carry an explicit documented
   exemption — a new operator module cannot ship audit-invisible;
4. (r12, VERDICT r11 finding #1) every bench case must have a row in the
   NEWEST committed BENCH_r*.json — the r11 canonical record was taken two
   operator commits before HEAD, so the two newest cases had no isolated
   record and nothing failed locally; this rule makes that drift a LOCAL
   failure (the recording workflow: `python tools/bench_record.py --out
   BENCH_r{N}.json` as the round's last source-touching step);
5. every audited name is built in ONE place: the plan-only builders name no
   registry case, every audited case resolves to a registry builder, and
   the scale bench re-defines only its documented OVERRIDES of bench cases;
6. every NOTES key names an audited section — a mis-keyed note is
   otherwise silently dropped from PLANS.md.
"""

from __future__ import annotations

import glob
import os
import pkgutil
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _newest_scale_table() -> str:
    tables = sorted(
        glob.glob(os.path.join(REPO, "SCALE_TABLE_r*.md")),
        # NUMERIC round sort (r10 after r9) — the scale_bench rule
        key=lambda f: int(
            "".join(c for c in os.path.basename(f) if c.isdigit()) or 0
        ),
    )
    assert tables, "no SCALE_TABLE_r*.md committed"
    return tables[-1]


def test_every_audited_query_has_a_plans_section():
    """A plan-roster entry whose section is missing from PLANS.md means the
    audit was regenerated BEFORE the roster grew — regenerate it
    (python tools/plan_report.py) as the round's last source-touching step."""
    from tools import plan_report

    plans = open(os.path.join(REPO, "PLANS.md")).read()
    sections = set(re.findall(r"^## (\S+)", plans, re.M))
    roster = (
        set(plan_report.AUDIT) | set(plan_report.CASES) | set(plan_report.EXTRA_OPS)
    )
    missing = roster - sections
    assert not missing, (
        f"PLANS.md is stale — missing sections for {sorted(missing)}; "
        "regenerate with `python tools/plan_report.py`"
    )


def test_every_bench_case_has_a_scale_table_row(spark):
    """Every measured kernel — the per-round bench cases plus the
    scale-bench extras — must have a row in the newest committed scale
    table. A new case fails here until SCALE_TABLE_r{N} is regenerated
    (the carry-over workflow: cp the previous table to the new name, then
    `python tools/scale_bench.py --cases <new,...> --out SCALE_TABLE_r{N}.md`)."""
    from bench import _build_cases
    from tools import scale_bench

    sf = "/root/testdata/sf0.001"
    cases = set(_build_cases(spark, sf)) | set(
        scale_bench.extra_cases(spark, sf)
    )
    table = _newest_scale_table()
    rows = {n for n, *_ in scale_bench._parse_table_rows(table)}
    missing = cases - rows
    assert not missing, (
        f"{os.path.basename(table)} is stale — no 10x row for "
        f"{sorted(missing)}"
    )


def _newest_bench_record() -> str:
    recs = sorted(
        glob.glob(os.path.join(REPO, "BENCH_r*.json")),
        key=lambda f: int(
            "".join(c for c in os.path.basename(f) if c.isdigit()) or 0
        ),
    )
    assert recs, "no BENCH_r*.json committed"
    return recs[-1]


def _bench_record_queries(path: str) -> set:
    """Per-query names from a committed bench record, whichever of the two
    formats wrote it: the builder's `tools/bench_record.py` artifact (top-
    level `queries`) or the driver's wrapper (`parsed`/`tail` holding the
    bench.py JSON line)."""
    import json

    with open(path) as f:
        d = json.load(f)
    if isinstance(d.get("queries"), dict):
        return set(d["queries"])
    parsed = d.get("parsed")
    if isinstance(parsed, dict) and isinstance(parsed.get("queries"), dict):
        return set(parsed["queries"])
    tail = d.get("tail", "")
    lines = [l for l in tail.strip().splitlines() if l.startswith("{")]
    if lines:
        return set(json.loads(lines[-1])["queries"])
    raise AssertionError(f"unrecognized bench record format: {path}")


def test_every_bench_case_has_a_canonical_bench_row(spark):
    """Rule #4: a bench case without a row in the newest committed canonical
    record is an unmeasured perf claim (the r11 drift class — maxsim_search
    and rocchio_topk landed after the r11 record was taken). Re-record with
    `python tools/bench_record.py --out BENCH_r{N}.json` at final HEAD."""
    from bench import _build_cases

    cases = set(_build_cases(spark, "/root/testdata/sf0.001"))
    rec = _newest_bench_record()
    recorded = _bench_record_queries(rec)
    missing = cases - recorded
    assert not missing, (
        f"{os.path.basename(rec)} is stale — no canonical record for "
        f"{sorted(missing)}; re-run tools/bench_record.py at HEAD"
    )


# module -> audited names that carry its evidence; each must appear in the
# audited surface (plan roster + declared queries + scale-table rows).
_REPRESENTATIVES = {
    "alignment": ["align_filter"],
    "ann": ["ivf_topk_exact", "ivf_near_dup_pairs"],
    "bm25": ["bm25_topk", "rm3_topk", "rm3_batch8"],
    "bm25_store": [
        "bm25_store_search",
        "bm25_store_batch8",
        "live_bm25_search",
    ],
    "bq": ["hamming_topk", "hamming_batch64"],
    "cascade": ["cascade_topk", "cascade_batch16"],
    "cross_dedup": ["cross_dedup", "cross_dedup_store"],
    "fusion": ["rrf_fuse"],
    "audio_dedup": ["audio_near_dup"],
    "bloom": ["decontaminate_bloom"],
    "bpe": ["encode_bpe", "bpe_train"],
    "contrastive": ["hard_negatives"],
    "corruption": ["corrupt_spans"],
    "decontamination": ["decontaminate", "decontaminate_spans"],
    "dedup": ["dedup_minhash_lsh", "embedding_near_dup", "srp_lsh_near_dup"],
    "domains": ["domain_cap", "url_filter"],
    "dsir": ["dsir_weights"],
    "embeddings": ["pca_whiten", "pool_embeddings"],
    "evaluation": ["retrieval_eval"],
    "fim": ["fim_transform"],
    "heavy_hitters": ["heavy_hitter_tokens"],
    "index_maintenance": ["ivf_sq8_live_topk"],
    "image_dedup": ["image_near_dup"],
    "joins": ["events_asof"],
    "kneser_ney": ["kn_score"],
    "late_interaction": ["maxsim_search", "maxsim_store_search"],
    "maxsim_maintenance": ["live_maxsim_search"],
    "knn": ["knn_topk", "knn_batch", "rocchio_topk", "rocchio_batch8"],
    "mixing": ["mix_corpus"],
    "packing": ["pack_sequences", "pack_windows"],
    "pq": ["pq_topk_rerank", "ivf_pq_batch_topk"],
    "pruning": ["prune_prototypes", "prune_ivf_store"],
    "sampling": ["sample_weighted"],
    "selection": ["budget_select"],
    "splits": ["leakage_safe_split"],
    "sq": ["sq8_topk"],
    "token_compression": ["colbertv2_search", "colbertv2_batch8"],
    "cv2_maintenance": ["live_cv2_search"],
    "semdedup": ["semdedup"],
    "shuffle": ["shuffle_corpus", "curriculum_order"],
    "store": ["upsert_merge", "store_partition_pruned"],
    "substring": ["substring_dedup"],
    "unigram": ["encode_unigram", "unigram_train"],
    "zorder": ["zorder_key", "zorder_write"],
}

# modules whose audit is deliberately carried by another surface — each with
# the reason a dedicated roster entry would add no signal
_EXEMPT = {
    # keep-lowest-id canonicalization: retired from the declared surface r8;
    # its distinct/applyInPandas machinery is audited via dedup_exact and it
    # stays DuckDB-verified in tests/test_retired_surface.py
    "canonicalize",
    # connected components: never a standalone query — it is the cluster
    # rung INSIDE the near-dup dedup family, whose plans/scale rows
    # (dedup_minhash_lsh, ivf_near_dup_pairs) execute it; twin-tested in
    # tests/test_graph.py
    "graph",
    # staging scratch: infrastructure, not an operator — every staged
    # consumer's audited plan shows the staged scan it produces
    "staging",
    # CDC/versioned store: snapshot bookkeeping around store writes, audited
    # through upsert_merge/store_partition_pruned's write plans; its delta
    # semantics are pinned in tests/test_versioned_store.py
    "versioned_store",
}


def test_every_operator_module_is_audit_represented(spark):
    """A NEW module under operators/ must either name a representative in
    the audited surface or document an exemption here — it cannot ship
    audit-invisible (the r9 drift class)."""
    import photo_vector_search_spark.operators as ops
    from tools import plan_report, scale_bench

    import __spark_entry__ as entry

    modules = {m.name for m in pkgutil.iter_modules(ops.__path__)}
    unmapped = modules - set(_REPRESENTATIVES) - _EXEMPT
    assert not unmapped, (
        f"operators modules with no audit representative and no documented "
        f"exemption: {sorted(unmapped)} — add a plan-roster/bench entry and "
        "map it in _REPRESENTATIVES"
    )
    stale = set(_REPRESENTATIVES) - modules  # renamed/removed modules
    assert not stale, f"_REPRESENTATIVES maps missing modules: {sorted(stale)}"

    audited = (
        set(plan_report.sections())
        | set(entry.queries())
        | {n for n, *_ in scale_bench._parse_table_rows(_newest_scale_table())}
    )
    for mod, reps in _REPRESENTATIVES.items():
        missing = [r for r in reps if r not in audited]
        assert not missing, (
            f"operators/{mod}: representatives {missing} are not in the "
            "audited surface (plan roster / declared queries / scale table)"
        )


def test_every_audited_name_has_one_builder(spark, sf_dir):
    """Rule #5: the bench registry is the one place a case is built. A
    plan-only builder named after a registry case, an audited case with no
    registry builder, or a scale case silently shadowing a bench case is a
    second copy that drifts from the frame the bench times."""
    from bench import _build_cases
    from tools import plan_report, scale_bench

    bench_cases = set(_build_cases(spark, sf_dir))
    scale_cases = set(scale_bench.extra_cases(spark, sf_dir))
    registry = bench_cases | scale_cases
    dup = set(plan_report.EXTRA_OPS) & registry
    assert not dup, f"plan-only builders duplicate registry cases: {sorted(dup)}"
    unbuilt = {
        n
        for n in plan_report.CASES
        if plan_report.CASE_ALIASES.get(n, n) not in registry
    }
    assert not unbuilt, f"audited CASES with no registry builder: {sorted(unbuilt)}"
    stray = set(plan_report.UNSTAGED) - set(plan_report.AUDIT) - set(plan_report.CASES)
    assert not stray, f"UNSTAGED forms of names nobody audits: {sorted(stray)}"
    shadowed = scale_cases & bench_cases
    assert shadowed == set(scale_bench.OVERRIDES), (
        "scale_bench re-defines bench cases outside its documented OVERRIDES: "
        f"undocumented {sorted(shadowed - scale_bench.OVERRIDES)}, "
        f"stale {sorted(scale_bench.OVERRIDES - shadowed)}"
    )
    sections = plan_report.sections()
    assert len(sections) == len(set(sections)), "an audited name appears twice"


def test_every_note_names_an_audited_section():
    """Rule #6: plan_report writes a NOTES entry only under the section of
    the same name, so a note keyed to a renamed or removed section vanishes
    from PLANS.md without an error."""
    from tools import plan_report

    orphans = set(plan_report.NOTES) - set(plan_report.sections())
    assert not orphans, f"NOTES keyed to no audited section: {sorted(orphans)}"
