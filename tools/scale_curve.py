"""Scale-curve rehearsal: wall-clock vs corpus size for the WIDE
operators (the ones whose 100 TB posture rests on plan-shape
arguments — this measures the shape empirically).

Builds an Nx documents/embeddings pair from sf0.1 with the duplicate
RATE held constant (the property that makes the scale-up fair):

- documents: each replica applies an INDEPENDENT seeded alphabet
  permutation (see ``build_nx``), so near-dup structure is preserved
  WITHIN a replica (the same bijection applies to both members of
  every pair) while cross-replica shingles decorrelate to the
  random-text baseline at ANY scale — duplicate-pair count scales
  exactly Nx with the corpus, not N^2 as naive replication would
  (N exact copies of each doc would square the per-group pair count
  and measure the DATA, not the engine).
- embeddings: each replica flips an independent per-replica sign
  pattern onto the components (a diagonal orthogonal transform) —
  within-replica cosine is preserved EXACTLY, cross-replica pairs
  decorrelate to the random baseline.

Then times, engine side only (correctness is the driver's + the sf0.1
oracle sweep's job; this answers "does the wall grow ~linearly?"):
dedup_minhash_lsh, dedup_simhash, dedup_components, dup_span_stats,
pack_sequences (declared queries, (spark, sf_dir)), and the semdedup
scale path (operators/semdedup.py) with k scaled linearly so expected
cluster size stays constant — the module's documented scale recipe.

Usage:
  python tools/scale_curve.py [--runs 3] [--scale N] [--ops a,b,...]
                              [--dir DIR] [--rebuild]
Prints a per-query table of 1x vs Nx medians and ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1X = "/root/testdata/sf0.1"
ID_STRIDE = 100_000_000

QUERY_NAMES = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_components",
    "dup_span_stats",
    "pack_sequences",
    "decontaminate_ngram",
    "excise_dup_spans",
    "chunk_cdc",
    "dedup_exact",
    # r17 (verdict item 8): the ANN family joins the probe — the
    # corpus side scales Nx (build_nx's sign-flipped embeddings),
    # the query side stays the declared 10 vectors
    "ann_cosine_topk",
    "ann_cosine_lsh",
    "ann_cosine_ivf",
    "ann_cosine_pq",
    "ann_cosine_ivf_pq",
]

# embeddings at sf0.1 are 2,000 x 64-dim; semdedup k=32 is the bench
# diag's validated 1x fit — scale k linearly so E[cluster size] holds
SEMDEDUP_K_1X = 32


def _rot(s: str, k: int) -> str:
    return s[k:] + s[:k]


def build_nx(spark, out_dir: str, scale: int) -> None:
    """N replicas with the duplicate RATE held constant at ANY N:
    each replica applies an INDEPENDENT seeded letter/digit
    permutation (``random.Random(500+k).shuffle``; a rotation is just
    a weak special case of this). Within a replica the same bijection
    applies to both members of every pair, so near-dup structure is
    preserved EXACTLY; across replicas a specific char-3-gram mapping
    coincides with probability ~26^-3, so cross-replica Jaccard sits
    at the random-text baseline at ANY scale. (The first cut composed
    a k%26 rotation with a word-suffix tag past 26 replicas — the tag
    variants kept ~0.5 cross-replica Jaccard, which 16×4 minhash
    banding still candidates at ~64%, and the 100× probe read a
    spurious super-linear wall from exactly that candidate inflation.
    Independent permutations remove the artifact at the source.)
    Embedding sign patterns draw from random.Random(1000+k) —
    independent per replica (an earlier closed-form pattern had
    period 5 in k, silently duplicating vectors across replica
    pairs)."""
    import random

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF1X}/documents.parquet")
    emb = spark.read.parquet(f"{SF1X}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])

    lo, up, dg = string.ascii_lowercase, string.ascii_uppercase, string.digits
    doc_parts = []
    emb_parts = []
    for k in range(scale):
        prng = random.Random(500 + k)
        plo = list(lo)
        prng.shuffle(plo)
        pup = [c.upper() for c in plo]  # case-consistent: lowercased
        # shingles see ONE bijection regardless of input case
        pdg = list(dg)
        prng.shuffle(pdg)
        src = lo + up + dg
        dst = "".join(plo) + "".join(pup) + "".join(pdg)
        text = F.translate(F.col("text"), src, dst)
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + k * ID_STRIDE).alias("doc_id"),
                text.alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
        rng = random.Random(1000 + k)
        signs = F.array(
            *[F.lit(1.0 if rng.random() < 0.5 else -1.0) for _ in range(dim)]
        )
        emb_parts.append(
            emb.select(
                (F.col("vec_id") + k * ID_STRIDE).alias("vec_id"),
                F.zip_with(
                    "embedding", signs, lambda x, s: (x * s).cast("float")
                ).alias("embedding"),
                "label",
            )
        )
    d10 = doc_parts[0]
    e10 = emb_parts[0]
    for p in doc_parts[1:]:
        d10 = d10.unionByName(p)
    for p in emb_parts[1:]:
        e10 = e10.unionByName(p)
    d10.repartition(max(32, scale * 3)).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    e10.repartition(max(8, scale)).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )


def _time_median(fn, runs: int) -> float:
    from solana_snapshot_etl_tools_spark.session import release_session_caches

    walls = []
    for _ in range(runs):
        t0 = time.time()
        n = fn()
        walls.append(time.time() - t0)
        assert n >= 0
        release_session_caches()
    return round(statistics.median(walls), 3)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--scale", type=int, default=10,
                    help="replication factor N (default 10)")
    ap.add_argument("--dir", default=None,
                    help="corpus dir (default /tmp/spark_graft_scale{N}x)")
    ap.add_argument("--ops", default=None,
                    help="comma list to restrict the measured operators")
    ap.add_argument("--rebuild", action="store_true")
    args = ap.parse_args()
    if args.dir is None:
        args.dir = f"/tmp/spark_graft_scale{args.scale}x"

    from solana_snapshot_etl_tools_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="scale_curve")
    if args.rebuild or not os.path.isdir(f"{args.dir}/documents.parquet"):
        print(f"building {args.scale}x corpus ...", file=sys.stderr, flush=True)
        build_nx(spark, args.dir, args.scale)
    n1 = spark.read.parquet(f"{SF1X}/documents.parquet").count()
    n10 = spark.read.parquet(f"{args.dir}/documents.parquet").count()
    assert n10 == args.scale * n1, (n1, n10)

    queries = entry_mod.queries()
    # JVM/footer/Python-worker warm (not counted)
    queries["dup_span_stats"](spark, SF1X).count()

    def _semdedup(sf_dir: str, k: int):
        from solana_snapshot_etl_tools_spark.operators.semdedup import semdedup

        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return lambda: semdedup(e, k=k, threshold=0.9).count()

    def _simhash_sharded(sf_dir: str):
        # the declared q_dedup_simhash shape with the Manku n_blocks=7
        # banding (C(7,5)=21 bands, 18-bit keys — the measured sweet
        # spot at this probe; 8 blocks trades better asymptotics for a
        # 2.7x wider explode) — the scale lever for the super-linear
        # last decade of the single-block scheme (r15 verdict item 2)
        from solana_snapshot_etl_tools_spark.operators import dedup as DD

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return lambda: DD.simhash_pairs(
            docs, "doc_id", "text", max_hamming=5,
            hash_family="poly257", n_blocks=7,
        ).count()

    SPECIAL = {"semdedup_scalepath", "dedup_simhash_sharded"}
    names = (
        [n.strip() for n in args.ops.split(",") if n.strip()]
        if args.ops
        else QUERY_NAMES + ["semdedup_scalepath", "dedup_simhash_sharded"]
    )
    rows = []
    load0 = os.getloadavg()
    for name in [n for n in names if n not in SPECIAL]:
        fn = queries[name]
        w1 = _time_median(lambda: fn(spark, SF1X).count(), args.runs)
        w10 = _time_median(lambda: fn(spark, args.dir).count(), args.runs)
        rows.append((name, w1, w10))
    if "dedup_simhash_sharded" in names:
        w1 = _time_median(_simhash_sharded(SF1X), args.runs)
        w10 = _time_median(_simhash_sharded(args.dir), args.runs)
        rows.append(("dedup_simhash_sharded", w1, w10))
    if "semdedup_scalepath" in names:
        w1 = _time_median(_semdedup(SF1X, SEMDEDUP_K_1X), args.runs)
        w10 = _time_median(
            _semdedup(args.dir, SEMDEDUP_K_1X * args.scale), args.runs
        )
        rows.append(("semdedup_scalepath", w1, w10))
    load1 = os.getloadavg()

    print(f"{'operator':24} {'1x_sec':>8} {f'{args.scale}x_sec':>8} {'ratio':>7}")
    out = {}
    for name, a, b in rows:
        print(f"{name:24} {a:8.2f} {b:8.2f} {b / a:7.2f}")
        out[name] = {"x1": a, "x10": b, "ratio": round(b / a, 2)}
    print(
        json.dumps(
            {
                "metric": f"scale_curve_{args.scale}x",
                "runs": args.runs,
                "docs_1x": n1,
                "scale": args.scale,
                "docs_nx": n10,
                "loadavg_bracket": [load0, load1],
                "operators": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
