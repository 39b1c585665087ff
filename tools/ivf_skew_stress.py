"""IVF cell-skew stress (round-10 verdict #5).

The classic production failure of an IVF index is CELL skew: a hot
centroid whose basin swallows a large corpus fraction makes every probe
of that cell scan a large candidate set. This tool measures our
newly hash-gated quantizer plans under exactly that distribution:

- volume first (skew only bites when hot-cell row counts outgrow a
  task's fair share): both corpora are the scale_spot perturbed-copy
  embedding construction at ``--factor`` x sf0.1 (default 50x = 100k
  vectors), 32-way layout;
- the SKEWED corpus then remaps 30% of non-query vectors
  (pmod(vec_id, 10) < 3, vec_id >= N_QUERIES) into centroid id 7's
  basin: the seed vector plus deterministic per-row noise small enough
  that the cosine argmax keeps every remapped row in that cell;
- interleaved uniform/skewed reps per query (drop the cold pair),
  median walls for knn_ivf_fixed / knn_ivfpq_fixed, plus the measured
  per-cell occupancy of both corpora (top cells as corpus fractions).

Where a straggler would and would not come from, so the numbers below
have a hypothesis to confirm or kill: our probe/candidate join
broadcasts the PROBE side (10 queries x n_probe rows) against the
corpus-cells frame, so candidate scoring is distributed over the
corpus's 32-way file layout — NOT partitioned by cell. A hot cell
therefore adds scoring work proportional to its occupancy but spread
across all tasks, unlike the classic cell-partitioned IVF layout where
it serializes into one straggler. The re-rank is a per-query top-k
(TakeOrderedAndProject), also layout-partitioned. If the measured
ratio tracks the candidate-count ratio (not the hot-cell fraction),
the non-straggler claim holds and the mitigation is "don't co-locate
by cell", which the plan already implements.

Usage: python tools/ivf_skew_stress.py [--factor 50] [--runs 3]
Updates/replaces the "## IVF cell-skew stress" section in SCALING.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from icenetetl_spark.queries.similarity import (  # noqa: E402
    EMB_DIM,
    IVF_CENTROID_IDS,
    N_QUERIES,
)
from icenetetl_spark.session import get_spark  # noqa: E402
from icenetetl_spark.sources.testdata import load_table  # noqa: E402
from tools import measure  # noqa: E402
from tools.scale_stress import BASE_SF, _copies  # noqa: E402

UNIFORM_DIR = "/tmp/icenetetl-ivfskew-uniform"
SKEWED_DIR = "/tmp/icenetetl-ivfskew-hot"
HOT_SEED_ID = IVF_CENTROID_IDS[0]  # centroid 7's basin
HOT_FRAC_MOD = 3  # pmod(vec_id, 10) < 3 -> ~30%

IVF_QUERIES = ["knn_ivf_fixed", "knn_ivfpq_fixed"]


def _scaled_embeddings(spark: SparkSession, factor: int):
    """The scale_spot construction: per-copy deterministic perturbation
    so copies land in different cells instead of stacking exactly."""
    emb = load_table(spark, BASE_SF, "embeddings")
    n_vecs = 2000
    copies = _copies(spark, factor)
    pert = F.transform(
        F.col("embedding"),
        lambda x, i: (
            x.cast("double")
            + F.lit(0.05) * F.col("copy").cast("double")
            * ((i * 37 % 13) - 6).cast("double")
        ).cast("float"),
    )
    return emb.crossJoin(copies).select(
        (F.col("vec_id") + F.col("copy").cast("long") * n_vecs).alias(
            "vec_id"
        ),
        pert.alias("embedding"),
        "label",
    )


def build(spark: SparkSession, factor: int) -> None:
    seed_vec = [
        float(x)
        for x in load_table(spark, BASE_SF, "embeddings")
        .filter(F.col("vec_id") == HOT_SEED_ID)
        .select("embedding")
        .collect()[0][0]
    ]
    for out in (UNIFORM_DIR, SKEWED_DIR):
        if os.path.isdir(out):
            shutil.rmtree(out)
        os.makedirs(out)
    df = _scaled_embeddings(spark, factor)
    df.repartition(32).write.parquet(f"{UNIFORM_DIR}/embeddings.parquet")
    # hot basin: the seed vector plus per-(row, dim) noise at 0.002 scale
    # — two orders below the seed's coordinate scale, so the cosine
    # argmax keeps every remapped row in the seed centroid's cell
    seed_col = F.array(*[F.lit(x) for x in seed_vec])
    hot_vec = F.transform(
        seed_col,
        lambda x, i: (
            x
            + F.lit(0.002)
            * (
                F.pmod(F.col("vec_id") * 31 + i.cast("long") * 7, F.lit(11))
                - 5
            ).cast("double")
        ).cast("float"),
    )
    hot = df.withColumn(
        "embedding",
        F.when(
            (F.pmod(F.col("vec_id"), F.lit(10)) < HOT_FRAC_MOD)
            & (F.col("vec_id") >= N_QUERIES),
            hot_vec,
        ).otherwise(F.col("embedding")),
    )
    hot.repartition(32).write.parquet(f"{SKEWED_DIR}/embeddings.parquet")
    # the registry warmup touches every table; the spot queries read
    # embeddings only
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents"):
        for out in (UNIFORM_DIR, SKEWED_DIR):
            os.symlink(f"{BASE_SF}/{t}.parquet", f"{out}/{t}.parquet")


def cell_occupancy(spark: SparkSession, sf_dir: str, top: int = 3):
    """Corpus fraction of the ``top`` fullest cells under the fixed
    16-centroid assignment (the same argmax the queries use)."""
    from icenetetl_spark.operators.ivf import assign_cells_fixed

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS)).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    counts = (
        assign_cells_fixed(emb, cents, dim=EMB_DIM)
        .groupBy("cell")
        .count()
        .orderBy(F.desc("count"))
        .collect()
    )
    total = sum(r["count"] for r in counts)
    return [
        (int(r["cell"]), round(r["count"] / total, 3)) for r in counts[:top]
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=50)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark("icenetetl-ivf-skew")
    build(spark, args.factor)
    occ_u = cell_occupancy(spark, UNIFORM_DIR)
    occ_s = cell_occupancy(spark, SKEWED_DIR)
    walls = measure.interleave(
        spark, [UNIFORM_DIR, SKEWED_DIR], IVF_QUERIES, args.runs
    )
    uni, hot = walls[UNIFORM_DIR], walls[SKEWED_DIR]
    spark.stop()

    n_vecs = 2000 * args.factor
    lines = [
        "## IVF cell-skew stress (tools/ivf_skew_stress.py)",
        "",
        f"The classic IVF production failure — one hot centroid "
        f"swallowing a large corpus fraction — measured on the fixed-"
        f"quantizer plans at {args.factor}x sf0.1 ({n_vecs:,} vectors, "
        f"32-way layout): the skewed corpus remaps ~30% of vectors into "
        f"centroid {HOT_SEED_ID}'s basin (seed vector + 0.002-scale "
        f"deterministic noise); interleaved uniform/skewed reps, cold "
        f"pair dropped, median of {args.runs}.",
        "",
        f"Measured cell occupancy (top cells as corpus fraction): "
        f"uniform {occ_u}; skewed {occ_s}.",
        "",
        "| query | uniform sec | skewed sec | skew/uniform |",
        "|---|---|---|---|",
    ]
    for name in IVF_QUERIES:
        r = round(hot[name] / uni[name], 2) if uni[name] else float("inf")
        lines.append(f"| {name} | {uni[name]} | {hot[name]} | {r}x |")
    lines += [
        "",
        "Reading: our candidate join BROADCASTS the probe side (10 "
        "queries x n_probe rows) against the corpus-cells frame, so a "
        "hot cell's extra candidates are scored across the corpus's "
        "32-way file layout instead of serializing into one cell-"
        "partitioned task — the straggler the classic cell-co-located "
        "IVF layout develops cannot form here by construction. The "
        "skew/uniform ratio should therefore track the CANDIDATE-COUNT "
        "ratio (probes hitting the hot cell score ~30% of the corpus "
        "instead of ~1/16), not the hot-cell fraction as a straggler "
        "multiple. At 100 TB the same holds as long as the quantizer "
        "keeps the probe frame k*n_probe-sized and the corpus stays "
        "layout-partitioned; if an operator ever co-locates by cell "
        "(e.g. to build a materialized inverted index), cap or split "
        "hot cells at write time exactly like the LSH hot-band cap.",
        "",
    ]
    block = "\n".join(lines) + "\n"
    md = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    old = open(md).read()
    marker = "## IVF cell-skew stress"
    if marker in old:
        start = old.find(marker)
        end = old.find("\n## ", start + 1)
        old = old[:start] + block + (old[end + 1:] if end != -1 else "")
    else:
        old = old.rstrip() + "\n\n" + block
    with open(md, "w") as f:
        f.write(old)
    print(block)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
