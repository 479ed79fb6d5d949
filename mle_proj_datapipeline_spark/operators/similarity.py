"""Compatibility facade for the similarity-search (ANN) operator family.

The implementation was split per VERDICT r6 item 6 (dep-closure
staleness blast radius: one kernel edit re-staled every driver row in
the family) into four separable modules:

- operators/veclib.py — deterministic hyperplane/centroid seeds,
  dot/norm/cosine folds, plane buckets, IVF cell assignment,
  brute-force top-k, geometry sizing (stable leaf).
- operators/kmeans.py — distributed Lloyd's iterations (codebook fit).
- operators/ann_ivf.py — IVF multi-probe search, trained codebooks,
  persisted-index serve paths.
- operators/ann_lsh.py — banded random-hyperplane LSH top-k and its
  persisted-index serve paths.

Engine code (``pkg/plans``) imports the specific module it needs; this
facade exists so external callers and tests keep one import path. Do
NOT import it from new engine modules (tests/test_docs.py enforces
this, same rule as operators/dedup.py).
"""

from __future__ import annotations

from mle_proj_datapipeline_spark.operators.ann_ivf import (  # noqa: F401
    ivf_index_append,
    ivf_index_build,
    ivf_index_topk,
    ivf_topk,
    ivf_trained_topk,
)
from mle_proj_datapipeline_spark.operators.ann_lsh import (  # noqa: F401
    lsh_index_build,
    lsh_index_geometry,
    lsh_index_topk,
    lsh_top1,
    lsh_topk,
)
from mle_proj_datapipeline_spark.operators.kmeans import (  # noqa: F401
    kmeans_fit,
    kmeans_iterate,
)
from mle_proj_datapipeline_spark.operators.veclib import (  # noqa: F401
    BANDS,
    EMB_DIM,
    NUM_CELLS,
    NUM_PLANES,
    NUM_PROBES,
    PLANES_PER_BAND,
    brute_force_topk,
    cosine,
    dot_double,
    hyperplanes,
    ivf_cell,
    ivf_centroids,
    ivf_min_dist,
    ivf_probes,
    norm_double,
    plane_bucket,
    planes_per_band_for,
)
