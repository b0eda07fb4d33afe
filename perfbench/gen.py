"""Seeded inputs for one benchmark run.

Writes into the run directory:

- `corpus.parquet/`: the base vectors as (id BIGINT, embedding ARRAY<FLOAT>),
  the only file the engine's index build reads;
- `vectors.f32`: base then reserve vectors, row-major little-endian float32.
  Row r is the vector first stored under id r; the reserve rows feed adds
  and upserts;
- `queries.f64`: the query pool, little-endian float64: corpus points plus
  a small perturbation (query by example, as the reference's image search);
- `meta.json`: the sizes.

The same (workload, seed) always gives the same files.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CENTRES = 256
CENTRE_SCALE = 1.0
NOISE = 0.7         # per-vector spread around its centre
QUERY_NOISE = 0.05  # perturbation of a query against its corpus point
PARTS = 4           # input files, so the build reads with several tasks

# base vectors indexed before the first request, reserve vectors for writes,
# query pool size
SIZES = {
    "serve": (20_000, 3_000, 256),
    "reference": (20_000, 30_000, 256),
}
SALT = {"serve": 1, "reference": 3}


def generate(workload, seed, out):
    n_base, n_reserve, n_queries = SIZES[workload]
    n_total = n_base + n_reserve
    rng = np.random.default_rng(np.random.SeedSequence([seed, SALT[workload]]))
    centres = rng.normal(0.0, CENTRE_SCALE, (CENTRES, DIM))
    owner = rng.integers(0, CENTRES, n_total)
    vecs = (centres[owner] + rng.normal(0.0, NOISE, (n_total, DIM))).astype("<f4")
    picks = rng.integers(0, n_base, n_queries)
    queries = (vecs[picks].astype("<f8")
               + rng.normal(0.0, QUERY_NOISE, (n_queries, DIM))).astype("<f8")

    vecs.tofile(os.path.join(out, "vectors.f32"))
    queries.tofile(os.path.join(out, "queries.f64"))
    corpus = os.path.join(out, "corpus.parquet")
    os.makedirs(corpus)
    bounds = np.linspace(0, n_base, PARTS + 1).astype(int)
    for p in range(PARTS):
        lo, hi = bounds[p], bounds[p + 1]
        emb = pa.FixedSizeListArray.from_arrays(
            pa.array(vecs[lo:hi].reshape(-1), type=pa.float32()), DIM)
        table = pa.table({
            "id": pa.array(np.arange(lo, hi, dtype=np.int64)),
            "embedding": emb.cast(pa.list_(pa.float32())),
        })
        pq.write_table(table, os.path.join(corpus, f"part-{p:05d}.parquet"))
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump({"dim": DIM, "n_base": n_base, "n_total": n_total,
                   "n_queries": n_queries}, fh)
