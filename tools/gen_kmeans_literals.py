"""Generate the converged k-means / OPQ artifacts for the `_kmeans` ANN
variants at the driver's oracle scale factor (sf0.01) and commit them as a
JSON fixture.

The production `_kmeans` queries (ivf_ann_topk_kmeans, ivf_pq_topk_kmeans,
pq_adc_topk_kmeans, pq_recon_kmeans, opq_pq_recon_kmeans) train their
quantizers with seeded driver-side numpy k-means — deterministic but not
SQL-expressible. This tool runs exactly that training ONCE at sf0.01 and
writes the converged values; plans/ann_kmeans_oracles.py embeds them as SQL
literals so DuckDB can replay the full SERVING path (assign → encode → ADC
→ rank) and the driver value-checks those rows instead of recording
`no_oracle`. tests/test_kmeans_oracles.py pins literal ↔ recomputed
equality, so a drift in training code or data fails loudly.

Floats round-trip exactly: json emits repr(float) and both engines parse
IEEE doubles losslessly.

Usage: python tools/gen_kmeans_literals.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")

ORACLE_SF_DIR = "/root/testdata/sf0.01"
FIXTURE = "fixtures/kmeans_sf0_01.json"


def compute_artifacts(spark, sf_dir: str) -> dict:
    from tlmc_etl_spark.operators.pq import (
        opq_rotation,
        pq_train_codebooks,
        rotate_vectors,
    )
    from tlmc_etl_spark.operators.vectors import kmeans_centroids, training_sample
    from tlmc_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # the shared bounded training sample every kmeans form draws
    coarse16 = kmeans_centroids(training_sample(emb, "vec_id", "embedding"), 16)
    cb_m8_k16 = pq_train_codebooks(emb, "vec_id", "embedding")
    R = opq_rotation(emb, "vec_id", "embedding")
    rotated = rotate_vectors(emb, "vec_id", "embedding", R)
    opq_cb = pq_train_codebooks(rotated, "vec_id", "embedding")
    return {
        "sf_dir": sf_dir,
        "coarse16": coarse16.tolist(),
        "cb_m8_k16": cb_m8_k16.tolist(),
        "opq_R": R.tolist(),
        "opq_cb_m8_k16": opq_cb.tolist(),
    }


def main() -> int:
    from tlmc_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ORACLE_SF_DIR
    out = sys.argv[2] if len(sys.argv) > 2 else FIXTURE
    spark = get_spark("gen-kmeans-literals")
    art = compute_artifacts(spark, sf_dir)
    with open(out, "w") as f:
        json.dump(art, f)
    print(f"wrote {out}: coarse16 16x{len(art['coarse16'][0])}, "
          f"cb 8x16x{len(art['cb_m8_k16'][0][0])}, R {len(art['opq_R'])}^2")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
