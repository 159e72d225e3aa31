"""Options gate: the similarity, ANN and near-duplicate operators run one
fixed configuration. A setting that every production caller (code under
plans/, pipelines/, sinks/, streaming/ and tools/, plus bench.py) leaves
at one value is a module constant, not a parameter; a defaulted
parameter survives only where two production callers pass different
values, and then it is listed below with those two callers.

The gate reads the module-level functions of the operator modules (their
API; closures built inside them are not options) and fails on any
defaulted parameter missing from ALLOWED, and on any ALLOWED entry whose
parameter no longer exists. Tests that need another value monkeypatch
the module constant instead of growing the API back.

No Spark session needed — an AST walk, so it runs in milliseconds.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.join(os.path.dirname(__file__), "..")

MODULES = (
    "tlmc_etl_spark/pipelines/similarity.py",
    "tlmc_etl_spark/operators/vectors.py",
    "tlmc_etl_spark/operators/pq.py",
    "tlmc_etl_spark/operators/dedup.py",
    "tlmc_etl_spark/operators/group_similarity.py",
    "tlmc_etl_spark/tuning.py",
)

ALLOWED = {
    ("similarity.py", "gather_chunks", "weight_col"): (
        "pipelines/similarity.two_stage_similar_tracks gathers unweighted (None); "
        "plans/ext.two_stage_weighted_similarity passes 'weight'"
    ),
    ("vectors.py", "chamfer_numpy", "wa"): (
        "operators/vectors.chamfer_group_scores scores unweighted (None); "
        "pipelines/similarity.chamfer_rerank passes the anchor's chunk-IDF weights"
    ),
    ("vectors.py", "chamfer_numpy", "wb"): (
        "operators/vectors.chamfer_group_scores scores unweighted (None); "
        "pipelines/similarity.chamfer_rerank passes the neighbor's chunk-IDF weights"
    ),
    ("pq.py", "_ivf_pq_serve", "anchor_cap"): (
        "operators/pq.ivf_pq_topk serves every anchor (None); "
        "operators/pq.ivf_pq_topk_portable passes PORTABLE_IVF_N_ANCHORS"
    ),
    ("pq.py", "pq_encode", "round_d2"): (
        "operators/pq.pq_adc_topk encodes on raw d2 (False); "
        "operators/pq.pq_adc_topk_portable passes True"
    ),
    ("dedup.py", "minhash_near_dupes", "hashes"): (
        "plans/ext.minhash_lsh_prodhash runs the production family (XXHASH64); "
        "plans/ext.minhash_lsh_dedup passes MD5_60"
    ),
    ("dedup.py", "simhash_near_dupes", "hashes"): (
        "plans/ext.simhash_prodhash runs the production family (XXHASH64); "
        "plans/ext.simhash_dedup passes MD5_60"
    ),
}


def _defaulted_parameters() -> set[tuple[str, str, str]]:
    found = set()
    for rel in MODULES:
        tree = ast.parse(open(os.path.join(ROOT, rel)).read())
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            names = [p.arg for p in positional[len(positional) - len(a.defaults):]]
            names += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            found |= {(os.path.basename(rel), fn.name, n) for n in names}
    return found


def test_every_defaulted_parameter_is_allow_listed():
    unlisted = sorted(_defaulted_parameters() - set(ALLOWED))
    assert not unlisted, (
        "defaulted parameters with no two production callers that differ — "
        f"make each a module constant: {unlisted}"
    )


def test_allow_list_names_live_parameters():
    stale = sorted(set(ALLOWED) - _defaulted_parameters())
    assert not stale, f"ALLOWED entries for parameters that no longer exist: {stale}"
