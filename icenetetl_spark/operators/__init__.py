from icenetetl_spark.operators.relational import (
    dedup_exact,
    insert_missing,
    latest_snapshot,
    rename_normalize,
    upsert,
)
from icenetetl_spark.operators.scale import (
    cap_document_frequency,
    salted_join,
    write_bucketed,
)
from icenetetl_spark.operators.temporal import (
    asof_join,
    range_join_points_to_intervals,
)

__all__ = [
    "asof_join",
    "cap_document_frequency",
    "dedup_exact",
    "insert_missing",
    "latest_snapshot",
    "range_join_points_to_intervals",
    "rename_normalize",
    "salted_join",
    "upsert",
    "write_bucketed",
]

# Heavier families are imported as submodules to keep `import
# icenetetl_spark.operators` light:
#   .dedup       exact / ngram-jaccard / minhash+lsh / simhash / components
#   .similarity  cosine knn (exact, sign-LSH)
#   .ivf         IVF ANN over a fixed or Lloyd-fitted centroid table
#   .text        lang-id / quality / tokens / fingerprints
#   .multimodal  binary payloads, Arrow decode plumbing
#   .quality     profiling / expectations
#   .sampling    deterministic splits / stratified sampling
