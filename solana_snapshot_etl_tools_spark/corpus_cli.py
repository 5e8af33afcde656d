"""Corpus CLI — the pretraining-data pipeline as one command.

The ETL CLI (``__main__.py``) mirrors the reference binary; this is
the engine's OWN surface for the training-data side, chaining the
library stages in production order (the same order the declared
``pipeline_pretrain_corpus`` query hash-checks):

    [HTML extract] → [unicode normalize] → [source blocklist] →
    [URL dedup] →
    exact dedup → [near dedup] → [PII redaction]
    → quality/lang/script filter → [learned quality model + Pareto
    keep] → [LM perplexity filter] → [embedding decontamination] →
    [DSIR target-resampling] → [per-source cap] → [source mixture] →
    [dedup against a prior corpus's persisted index] → [SemDeDup] →
    [cluster-balance the topic mixture] → deterministic split → shards [or BPE-tokenize + pack]
    [+ persist the updated index]

    python -m solana_snapshot_etl_tools_spark.corpus_cli \\
        DOCS.parquet OUT_DIR \\
        [--html-extract [--respect-noai]] [--normalize] [--url-dedup] \\
        [--near-dedup] [--dedup-prefer COL] [--no-pii] [--dedup-cleaned] \\
        [--quality 0.5] [--lang en] [--script-filter latin,cyrillic] \\
        [--gopher] [--fineweb] \\
        [--term-blocklist FILE [--term-max-ratio R]] \\
        [--quality-model DIR [--quality-model-threshold T]] \\
        [--lm-reference REF.parquet [--lm-save DIR] | --lm-model DIR] \\
        [--lm-max-ppl P | --lm-keep-buckets head,middle] \\
        [--dsir-target T.parquet [--dsir-save DIR] | --dsir-model DIR] \\
        [--dsir-keep N | --dsir-sample N | --dsir-sample-scale C] \\
        [--source-blocklist FILE] [--source-cap N] \\
        [--source-mixture SRC=W,SRC=W,... \\
         [--token-budget B [--max-epochs E]]] \\
        [--embeddings EMB.parquet [--cluster-balance K [--alpha 0.0]] \\
         [--semdedup EPS [--semdedup-k K]] \\
         [--decontam-bench BENCH.parquet --decontam-threshold T \\
          [--embedding-audit]]] \\
        [--decontam-ngrams BENCH.parquet [--decontam-k 8] \\
         [--decontam-max-overlap 0.0] [--decontam-audit]] \\
        [--index-out DIR] \\
        [--dedup-against-index DIR [--drop-near-candidates]] \\
        [--train-pct 90 --val-pct 5] \\
        [--tokenize N [--tokenizer bpe|unigram] [--pack SEQ_LEN]] \\
        [--shuffle-seed N] [--data-card] \\
        [--profile [--profile-by COL]] \\
        [--records-per-shard N] [--cpus N]

Streaming ingestion is its own mode — DOCS is then a DIRECTORY of
arriving shards and the loop state lives at --index-out:

    python -m solana_snapshot_etl_tools_spark.corpus_cli \\
        ARRIVALS_DIR OUT_DIR --ingest-stream --index-out DIR \\
        [--source-blocklist FILE] [--html-extract [--respect-noai]] \\
        [--normalize] [--no-pii] [--quality Q] [--lang L] \\
        [--script-filter S,...] [--gopher] [--fineweb] \\
        [--term-blocklist FILE [--term-max-ratio R]] \\
        [--quality-model DIR] [--drop-near-candidates] \\
        [--discover-boilerplate [TOP]] [--boilerplate-min-df N] \\
        [--lm-reference REF.parquet | --lm-model DIR] \\
        [--lm-max-ppl P | --lm-keep-buckets head,middle] \\
        [--decontam-ngrams BENCH.parquet [--decontam-k 8] \\
         [--decontam-max-overlap 0.0] [--decontam-audit]] \\
        [--embeddings EMB.parquet [--decontam-bench B.parquet \\
         --decontam-threshold T] [--semdedup EPS [--semdedup-k K] \\
         [--semdedup-save DIR | --semdedup-model DIR]]] \\
        [--dsir-target T.parquet | --dsir-model DIR] \\
        [--dsir-keep N | --dsir-sample N | --dsir-sample-scale C] \\
        [--stratified-split lang|script [--train-pct P --val-pct V]] \\
        [--data-card] [--profile] [--skew-report COLS] \\
        [--drift-reference HIST_DIR]

Both modes run the same stage functions; where each runs:

- ``_clean_text`` (--html-extract, --respect-noai, --normalize): batch,
  on the input before boilerplate removal and the dedup tier; stream,
  on each arriving batch.
- ``_row_filters`` (--quality, --lang, --script-filter, --gopher,
  --fineweb, --term-blocklist, --quality-model), after PII redaction:
  batch, after the dedup tier; stream, on each arriving batch before
  the index dedup.
- ``_POST_FILTER_STAGES`` (--lm-*, --decontam-ngrams, --decontam-bench,
  --dsir-*, --semdedup), through ``_run_stages``: batch, LM, n-gram
  decontam, embedding decontam and DSIR before the source cap, then
  SemDeDup after the index probe; stream, post-drain over the corpus
  accumulated so far in the order LM, n-gram decontam, embedding
  decontam, SemDeDup, DSIR.

The stream's other post-drain stages read the accumulated corpus too:
--profile and --drift-reference first (incremental, per-batch stores),
then --discover-boilerplate and --boilerplate-min-df before the stage
table, and --stratified-split, --data-card and --skew-report after it.
Post-drain stages rewrite derived views (split dirs, report); the
append-only corpus and index keep every arrival. The remaining
batch-only stages are rejected, never silently ignored.

Emits one JSON report line (stage row counts, per-split sizes, shard
manifest sizes). Every stage is the already-tested library operator;
the CLI adds only composition, counting, and writes.
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Callable, NamedTuple


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="solana_snapshot_etl_tools_spark.corpus_cli",
        description="Build a pretraining corpus from a documents parquet",
    )
    p.add_argument("docs", help="input parquet with (doc_id, text)")
    p.add_argument("out_dir", help="output root (per-split subdirs)")
    p.add_argument("--input-format", default="parquet",
                   choices=["parquet", "jsonl", "warc", "wet"],
                   help="how to read DOCS. parquet (default) and "
                   "jsonl expect (doc_id, text[, ...]) rows; warc "
                   "reads 200-OK HTML responses out of WARC archives "
                   "(DOCS is a glob or a comma-separated manifest of "
                   ".warc[.gz] paths; pair with --html-extract) and "
                   "wet reads Common Crawl WET conversion records — "
                   "both yield (doc_id, url, text), so --url-dedup "
                   "works. Batch mode only: the stream loop's "
                   "arrival contract is parquet batches")
    p.add_argument("--respect-noai", action="store_true",
                   help="drop pages whose robots/googlebot meta "
                   "directives include noai/noimageai (functions/"
                   "html.py:html_noai) — the crawl-consent opt-out. "
                   "Requires --html-extract (the signal lives in the "
                   "RAW markup, so the filter runs before "
                   "extraction); runs unchanged in --ingest-stream")
    p.add_argument("--html-extract", action="store_true",
                   help="the text column holds raw HTML — extract "
                   "visible text first (functions/html.py, WET-style "
                   "heuristic; block boundaries become newlines)")
    p.add_argument("--normalize", action="store_true",
                   help="Unicode-normalize the text first (after "
                   "--html-extract when both are set): strip control/"
                   "invisible characters, NFKC, collapse whitespace "
                   "(functions/normalize.py). Runs unchanged in "
                   "--ingest-stream")
    p.add_argument("--boilerplate-min-df", type=int, metavar="N",
                   default=None,
                   help="line-wise boilerplate removal (RefinedWeb/C4 "
                   "rule): strip EVERY copy of any normalized line "
                   "appearing in >= N distinct documents — "
                   "navigation/footer/cookie banners "
                   "(operators/paragraphs.py:boilerplate_filter). "
                   "Batch: after --html-extract/--normalize, before "
                   "the dedup tier. Stream: a post-drain stage over "
                   "the accumulated corpus (rewrites derived views; "
                   "the append-only state keeps raw arrival text)")
    p.add_argument("--discover-boilerplate", type=int, metavar="TOP",
                   nargs="?", const=20, default=None,
                   help="boilerplate DISCOVERY (measurement side of "
                   "--boilerplate-min-df): put the TOP heavy-hitter "
                   "normalized lines (by distinct-doc frequency, the "
                   "removal unit) and heavy-hitter tokens in the "
                   "report, plus a suggested --boilerplate-min-df "
                   "derived from the corpus size (paragraphs."
                   "suggest_boilerplate_min_df — the 0.5%%-of-docs "
                   "rule). Measures the same frame the filter would "
                   "see: batch, right before the filter stage; "
                   "stream, post-drain over the accumulated corpus")
    p.add_argument("--source-from-url", action="store_true",
                   help="derive the 'source' column from each URL's "
                   "registered domain (domains.with_registered_domain) "
                   "— crawl inputs carry url but no source, and this "
                   "unlocks the whole source-curation suite for them: "
                   "--source-cap, --source-blocklist, "
                   "--source-mixture, --profile-by source. Refused "
                   "when the input already has a source column")
    p.add_argument("--domain-quality", metavar="Q[:MIN_DOCS]", default=None,
                   help="RefinedWeb-style whole-domain drop: compute "
                   "each registered domain's MEAN quality_score and "
                   "drop every document of domains below Q (in "
                   "[0,1]). Domains with fewer than MIN_DOCS docs "
                   "(default 3) are kept — one bad page is evidence "
                   "about the page, not the domain. Complements the "
                   "per-document --quality cut (uniformly-mediocre "
                   "content farms slip under a per-doc threshold; "
                   "their aggregate does not). Needs a 'url' column; "
                   "runs after --html-extract so quality judges "
                   "extracted text, not markup. Batch only")
    p.add_argument("--url-dedup", action="store_true",
                   help="exact URL-level dedup on the normalized page "
                   "identity BEFORE text dedup (needs a 'url' column; "
                   "operators/domains.py:dedup_by_url)")
    p.add_argument("--near-dedup", action="store_true",
                   help="also remove minhash-LSH near-dups (jaccard>=0.8 "
                   "components, keep min id)")
    p.add_argument("--dedup-prefer", metavar="COL", default=None,
                   help="keep the HIGHEST-COL member of every duplicate "
                   "family instead of the default survivor (min doc_id "
                   "for --near-dedup components; farthest-from-centroid-"
                   "first for --semdedup) — crawl reality keeps the best "
                   "page of a family, not the first-crawled. COL is a "
                   "numeric column of the input parquet (re-joined by "
                   "doc_id, the --profile-by precedent); NULL ranks "
                   "worst. Batch mode only: keep-best is retrospective, "
                   "and the stream contract is append-stable keep-first")
    p.add_argument("--no-pii", action="store_true", help="skip PII redaction")
    p.add_argument("--dedup-cleaned", action="store_true",
                   help="re-run exact dedup on the REDACTED text — "
                   "removes the residue where docs differing only in "
                   "PII spans collide after redaction (the data card's "
                   "exact_dup_rate measures it)")
    p.add_argument("--quality", type=float, default=0.5,
                   help="min quality_score, inclusive (default 0.5)")
    p.add_argument("--gopher", action="store_true",
                   help="additionally require every Gopher rule to pass "
                   "(operators/quality.py)")
    p.add_argument("--fineweb", action="store_true",
                   help="additionally require FineWeb's three "
                   "line-level rules to pass (operators/quality.py:"
                   "fineweb_quality_flags — punct-line fraction, "
                   "duplicated-line character mass, short-line "
                   "fraction, published thresholds). Pure column "
                   "expressions: runs unchanged in --ingest-stream")
    p.add_argument("--gopher-stopwords", metavar="W1,W2,...", default=None,
                   help="override Gopher A1.1's eight-word stop list for "
                   "the stop-word rule (comma-separated; for corpora "
                   "where the paper's English list rejects everything)")
    p.add_argument("--lang", default="en",
                   help="keep docs lang_id == LANG; '' keeps all")
    p.add_argument("--script-filter", metavar="S1,S2,...", default=None,
                   help="keep only documents whose DOMINANT writing "
                   "system is one of the listed scripts (functions/"
                   "text.py:dominant_script — latin, cyrillic, cjk, "
                   "arabic, devanagari, hangul, greek, hebrew, "
                   "unknown). Pure column expression: runs unchanged "
                   "in --ingest-stream. Multilingual curation routes "
                   "on the script BEFORE any language call is "
                   "trustworthy")
    p.add_argument("--term-blocklist", metavar="FILE", default=None,
                   help="newline-delimited bad-word/phrase list (C4 "
                   "rule): drop documents whose blocklist-term density "
                   "exceeds --term-max-ratio (operators/safety.py; "
                   "token-granular, never substrings)")
    p.add_argument("--term-max-ratio", type=float, default=None,
                   help="density threshold for --term-blocklist "
                   "(default 0.0 — any hit drops)")
    p.add_argument("--quality-model", metavar="DIR", default=None,
                   help="saved quality PipelineModel "
                   "(operators/quality_model.py) applied AFTER the "
                   "heuristic filters — GPT-3-style learned tier")
    p.add_argument("--quality-model-threshold", type=float, default=None,
                   help="hard probability cut for --quality-model "
                   "(default: the Pareto keep rule instead)")
    p.add_argument("--quality-model-alpha", type=float, default=9.0,
                   help="Pareto shape for --quality-model's keep rule "
                   "(GPT-3 default 9)")
    p.add_argument("--lm-reference", metavar="PARQUET", default=None,
                   help="train a stupid-backoff n-gram LM on this "
                   "HIGH-QUALITY reference corpus (parquet with a "
                   "text column) and drop documents whose perplexity "
                   "under it exceeds --lm-max-ppl — the CCNet filter "
                   "(operators/ngram_lm.py)")
    p.add_argument("--lm-model", metavar="DIR", default=None,
                   help="load a PRE-TRAINED LM persisted by --lm-save "
                   "(ngram_lm.lm_save) instead of training one with "
                   "--lm-reference — the CCNet train-once/score-many "
                   "posture")
    p.add_argument("--lm-save", metavar="DIR", default=None,
                   help="after training the --lm-reference LM, persist "
                   "it to DIR for later --lm-model runs")
    p.add_argument("--lm-max-ppl", type=float, default=None,
                   help="perplexity keep threshold for "
                   "--lm-reference/--lm-model")
    p.add_argument("--lm-keep-buckets", metavar="B1,B2", default=None,
                   help="CCNet bucket keep rule (alternative to "
                   "--lm-max-ppl): split the corpus into head/middle/"
                   "tail at its own perplexity terciles "
                   "(operators/ngram_lm.py:perplexity_buckets) and "
                   "keep the listed buckets (the paper keeps "
                   "head,middle)")
    p.add_argument("--lm-bucket-by", choices=["corpus", "lang", "script"],
                   default="corpus",
                   help="cutoff granularity for --lm-keep-buckets: "
                   "'corpus' (one global tercile split), 'lang' / "
                   "'script' (CCNet's per-language rule — cutoffs per "
                   "n-gram language id / dominant writing system, so "
                   "no language is judged by another's fluency scale "
                   "against the reference)")
    p.add_argument("--lm-ngram", type=int, default=3,
                   help="LM order for --lm-reference (default 3)")
    p.add_argument("--lm-min-count", type=int, default=2,
                   help="prune reference n-grams of order >= 2 seen "
                   "fewer times (default 2)")
    p.add_argument("--dsir-target", metavar="PARQUET", default=None,
                   help="target-corpus parquet (text column) for DSIR "
                   "data selection (Xie et al. 2023, operators/"
                   "dsir.py): hashed-ngram importance weights vs the "
                   "raw pool, seeded Gumbel-top-k resampling keeps "
                   "exactly --dsir-keep documents that LOOK LIKE the "
                   "target. Runs after the cleaning filters, before "
                   "the source cap. Batch-only (global selection)")
    p.add_argument("--dsir-keep", type=int, metavar="N", default=None,
                   help="keep EXACTLY N documents via Gumbel-top-k "
                   "(goes with exactly one of "
                   "--dsir-target/--dsir-model)")
    p.add_argument("--dsir-sample", type=int, metavar="N", default=None,
                   help="keep N documents IN EXPECTATION via "
                   "Bernoulli draws proportional to the importance "
                   "weight (dsir.dsir_sample — the cheaper selection, "
                   "~sqrt(N) binomial spread; per-pool calibration, "
                   "append-unstable). Alternative to --dsir-keep")
    p.add_argument("--dsir-sample-scale", type=float, metavar="C",
                   default=None,
                   help="Bernoulli DSIR selection with a FIXED "
                   "precalibrated scale (dsir.dsir_sample(scale=C)) — "
                   "the append-stable streaming posture: requires "
                   "--dsir-model (a held-fixed fit), and together the "
                   "(model, scale) pair makes every keep decision a "
                   "pure function of (id, weight) so new arrivals "
                   "never flip old ones. Calibrate C once on the fit "
                   "pool: a --dsir-sample run reports it as "
                   "dsir_calibrated_scale")
    p.add_argument("--dsir-model", metavar="DIR", default=None,
                   help="load a FITTED importance model persisted by "
                   "--dsir-save (dsir.dsir_load) instead of fitting "
                   "one with --dsir-target — scoring then uses the "
                   "fit-time raw distribution (train-once posture)")
    p.add_argument("--dsir-save", metavar="DIR", default=None,
                   help="after fitting the --dsir-target model, "
                   "persist it to DIR for later --dsir-model runs")
    p.add_argument("--decontam-bench", metavar="PARQUET", default=None,
                   help="benchmark EMBEDDINGS parquet ((bench_id|"
                   "vec_id, embedding)): drop documents whose "
                   "embedding sits within --decontam-threshold cosine "
                   "of any benchmark item — the PARAPHRASE-leak check "
                   "n-gram decontamination misses (operators/"
                   "decontam.py:decontaminate_embedding, broadcast "
                   "path). Needs --embeddings for the corpus-side "
                   "vectors; documents without an embedding pass "
                   "through unchecked. In --ingest-stream this runs "
                   "as a POST-DRAIN batch stage over the accumulated "
                   "corpus (the LM-filter precedent)")
    p.add_argument("--decontam-threshold", type=float, default=None,
                   help="cosine flag threshold for --decontam-bench, "
                   "in (0, 1]")
    p.add_argument("--source-blocklist", metavar="FILE", default=None,
                   help="newline-delimited source/domain names; matching "
                   "documents are dropped FIRST, before any other stage "
                   "(needs a 'source' column in DOCS — the RefinedWeb "
                   "URL-filter blocklist half, operators/domains.py)")
    p.add_argument("--source-cap", type=int, metavar="N", default=None,
                   help="keep at most N documents per source, a "
                   "deterministic seeded choice, applied AFTER the "
                   "quality/LM filters so cap slots go to documents "
                   "that survive them (needs a 'source' column — the "
                   "RefinedWeb anti-domination half)")
    p.add_argument("--source-mixture", metavar="SRC=W,SRC=W,...",
                   default=None,
                   help="sample the corpus to an explicit per-source "
                   "recipe (weights normalize to shares; sources not "
                   "listed are dropped; sampling.py:"
                   "target_mixture_sample semantics incl. the loud "
                   "shortfall contract). Runs after --source-cap. "
                   "Needs a 'source' column")
    p.add_argument("--embedding-audit", action="store_true",
                   help="with --decontam-bench: also persist the "
                   "per-benchmark-item embedding audit (exact nearest "
                   "corpus neighbor, margin even below the threshold; "
                   "decontam.embedding_contamination_audit) to "
                   "OUT_DIR/embedding_audit and report the "
                   "contaminated-item count")
    p.add_argument("--decontam-ngrams", metavar="BENCH.parquet",
                   default=None,
                   help="VERBATIM benchmark decontamination (the "
                   "GPT-3/PaLM k-gram rule, operators/decontam.py:"
                   "decontaminate): drop every document sharing a "
                   "token k-gram with the benchmark parquet's text "
                   "column beyond --decontam-max-overlap. Independent "
                   "of the embedding-space --decontam-bench (verbatim "
                   "catches exact leaks, embeddings catch "
                   "paraphrases; real pipelines run both). Post-drain "
                   "in --ingest-stream")
    p.add_argument("--decontam-k", type=int, metavar="K", default=8,
                   help="k-gram width for --decontam-ngrams "
                   "(default 8; PaLM used 8, GPT-3 13)")
    p.add_argument("--decontam-action", choices=["drop", "excise"],
                   default="drop",
                   help="what --decontam-ngrams does to a leak: drop "
                   "the document past --decontam-max-overlap (default,"
                   " the GPT-3/PaLM rule) or excise — surgically "
                   "remove every --decontam-excise-k-char window that "
                   "appears verbatim in the bench (operators/excise."
                   "excise_contaminated_spans) and keep the rest of "
                   "the document; no docs are dropped and "
                   "--decontam-max-overlap is not consulted")
    p.add_argument("--decontam-excise-k", type=int, metavar="K", default=50,
                   help="character window for --decontam-action excise "
                   "(the Lee-et-al span unit, NOT the token k of "
                   "--decontam-k)")
    p.add_argument("--decontam-max-overlap", type=float, metavar="R",
                   default=0.0,
                   help="keep documents whose contaminated-gram ratio "
                   "is <= R (default 0: ANY shared k-gram drops)")
    p.add_argument("--decontam-audit", action="store_true",
                   help="with --decontam-ngrams: also persist the "
                   "per-benchmark-item audit table (leaked grams, "
                   "blast radius; decontam.contamination_audit) to "
                   "OUT_DIR/decontam_audit and report the dirty-item "
                   "count")
    p.add_argument("--token-budget", type=int, metavar="B", default=None,
                   help="plan the --source-mixture recipe in TOKENS "
                   "for a B-token training run (sampling.py:"
                   "token_budget_plan): per-source epoch factors = "
                   "(B * share) / available_tokens. The CLI applies "
                   "the DOWNSAMPLING side (factors clamped to 1 — "
                   "materializing epoch copies would duplicate doc "
                   "ids across the split machinery) and reports the "
                   "full plan, including >1 epoch factors for the "
                   "training loader; materialize copies with "
                   "sampling.apply_token_budget_plan when needed")
    p.add_argument("--max-epochs", type=float, metavar="E", default=None,
                   help="cap any --token-budget epoch factor at E "
                   "(the repetition-harms bound); the capped "
                   "shortfall is reported, never silently "
                   "renormalized")
    p.add_argument("--embeddings", metavar="PARQUET", default=None,
                   help="embeddings parquet with (vec_id, embedding) "
                   "keyed by doc id — enables --cluster-balance")
    p.add_argument("--cluster-balance", type=int, metavar="K", default=None,
                   help="k-means the corpus into K topic domains over "
                   "--embeddings and temperature-flatten the mixture")
    p.add_argument("--semdedup", type=float, metavar="EPS", default=None,
                   help="SemDeDup (Abbas et al. 2023) over --embeddings: "
                   "spherical-k-means-bucket the vectors, drop every "
                   "document >= EPS-cosine-similar to an earlier "
                   "(farther-from-centroid) one in its cluster "
                   "(operators/semdedup.py). Docs without an embedding "
                   "pass through. Runs before --cluster-balance; in "
                   "--ingest-stream it is a post-drain stage (the "
                   "decontamination precedent)")
    p.add_argument("--semdedup-k", type=int, metavar="K", default=None,
                   help="cluster count for --semdedup (default: "
                   "embedding_count/1024, min 2 — keeps each cluster's "
                   "pairwise block small)")
    p.add_argument("--semdedup-save", metavar="DIR", default=None,
                   help="after fitting --semdedup's spherical k-means, "
                   "persist it to DIR (cluster.kmeans_save) for later "
                   "--semdedup-model runs")
    p.add_argument("--semdedup-model", metavar="DIR", default=None,
                   help="reuse a saved spherical k-means "
                   "(cluster.kmeans_load) instead of fitting one — the "
                   "train-once posture: a held-fixed model keeps "
                   "cluster boundaries (and therefore drop decisions "
                   "for unchanged vectors) stable across corpora/runs")
    p.add_argument("--alpha", type=float, default=0.0,
                   help="mixture temperature for --cluster-balance "
                   "(0 = equal-size domains, 1 = natural; default 0)")
    p.add_argument("--index-out", metavar="DIR", default=None,
                   help="persist the dedup index of the FINAL corpus to "
                   "DIR/index (exact + LSH band rows, partitioned by "
                   "band for key-pruned probes) and the minhash "
                   "signature table to DIR/sigs — later shards probe "
                   "them via --dedup-against-index")
    p.add_argument("--dedup-against-index", metavar="DIR", default=None,
                   help="drop documents already in a prior corpus by "
                   "probing the persisted index at DIR (exact dups are "
                   "always dropped; estimated near-dups only with "
                   "--drop-near-candidates)")
    p.add_argument("--drop-near-candidates", action="store_true",
                   help="with --dedup-against-index, also drop estimated "
                   "near-dup candidates (the aggressive policy; the "
                   "index cannot exact-verify Jaccard)")
    p.add_argument("--train-pct", type=int, default=90)
    p.add_argument("--val-pct", type=int, default=5)
    p.add_argument("--stratified-split", choices=["lang", "script"],
                   default=None,
                   help="replace the hash split with the EXACT "
                   "stratified split over the FINAL corpus (floor-"
                   "exact per-stratum shares — tiny strata keep their "
                   "held-out rows; append-unstable, see "
                   "operators/sampling.py:stratified_split). 'lang' "
                   "stratifies by the n-gram language id, 'script' by "
                   "the dominant writing system — every script's "
                   "held-out share survives even when one script "
                   "dominates the corpus")
    p.add_argument("--tokenize", type=int, metavar="N", default=None,
                   help="train a subword tokenizer on the train split "
                   "and emit token ids — N is the merge budget (bpe) "
                   "or the vocab size (unigram)")
    p.add_argument("--tokenizer", choices=["bpe", "unigram"], default="bpe",
                   help="subword algorithm for --tokenize: Sennrich "
                   "BPE (default) or the SentencePiece unigram-LM "
                   "(operators/unigram.py)")
    p.add_argument("--pack", type=int, metavar="SEQ_LEN", default=None,
                   help="pack token ids into fixed-length sequences "
                   "(requires --tokenize)")
    p.add_argument("--shuffle-seed", type=int, default=None, metavar="N",
                   help="write shards in a deterministic GLOBAL shuffle "
                   "order (hash of the row id, seeded) instead of id "
                   "order — so no shard is crawl-order/topic-correlated "
                   "and the training loader needs no shuffle buffer")
    p.add_argument("--ingest-stream", action="store_true",
                   help="treat DOCS as a DIRECTORY of arriving parquet "
                   "shards and run the incremental-dedup ingestion "
                   "loop (streaming/ingest.py) over everything present "
                   "(availableNow), appending survivors to OUT_DIR and "
                   "closing the index loop at --index-out; checkpoint "
                   "lives under OUT_DIR/_checkpoint, so re-running "
                   "picks up only NEW shards. Mutually exclusive with "
                   "the batch pipeline stages")
    p.add_argument("--profile", action="store_true",
                   help="persist a MERGEABLE sketch profile of the "
                   "final corpus to OUT_DIR/profile (operators/"
                   "profile.py: counts, sums, DataSketches HLL "
                   "distincts — rows that later union without "
                   "rescanning the corpus) and put the estimates in "
                   "the report. In --ingest-stream the store is "
                   "per-batch and INCREMENTAL: each run profiles only "
                   "batches not yet in the store (partition-pruned), "
                   "so corpus-level numbers never rescan old data")
    p.add_argument("--profile-by", metavar="COL", default=None,
                   help="with --profile in batch mode: one profile "
                   "row per value of COL (e.g. source) instead of a "
                   "single global row; the report carries the global "
                   "merge, the store carries the per-group rows "
                   "(profile.merge_profiles recovers any rollup). "
                   "Batch-only: the stream store is keyed by batch")
    p.add_argument("--data-card", action="store_true",
                   help="include the final corpus's data-card stats "
                   "(token/char totals, length percentiles, language "
                   "mix, dup rate) in the JSON report")
    p.add_argument("--warc-index", metavar="CDXJ", default=None,
                   help="with --input-format warc: DOCS is ignored as "
                   "a record source; instead read this CDXJ index "
                   "(glob ok), filter to 200-OK text/html ON THE "
                   "INDEX, and fetch only the matching byte ranges "
                   "from the archives (sources/warc.read_cdxj + "
                   "read_warc_records_at) — one archive fans out "
                   "across the cluster. Index filenames resolve "
                   "against --warc-base (default: the index's own "
                   "directory)")
    p.add_argument("--build-warc-index", metavar="OUT.cdxj", default=None,
                   help="while ingesting archives sequentially "
                   "(--input-format warc), ALSO build a CDXJ "
                   "index of them (sources.warc.build_cdxj_entries) "
                   "and write it to OUT.cdxj — the next run passes it "
                   "as --warc-index and reads by byte range instead "
                   "of re-scanning. Entry count lands in the report "
                   "as warc_index_entries")
    p.add_argument("--archive-stats", action="store_true",
                   help="diagnostic mode: scan the archives "
                   "(--input-format warc/wet) with "
                   "sources.warc.warc_file_stats and emit per-archive "
                   "(n_records, n_skipped) in the report WITHOUT "
                   "running the pipeline — the triage pass that finds "
                   "rotten archives before --build-warc-index refuses "
                   "them or a long ingest wastes cluster time")
    p.add_argument("--warc-base", metavar="DIR", default=None,
                   help="directory CDXJ 'filename' fields resolve "
                   "against (see --warc-index)")
    p.add_argument("--respect-robots", metavar="AGENT", nargs="?",
                   const="*", default=None,
                   help="with --input-format warc: honor the "
                   "crawl's own robots.txt captures — parse every "
                   "200-OK /robots.txt in the archives (operators/"
                   "robots.py, full RFC 9309 matching incl. '*'/'$' "
                   "wildcards, most-octets precedence with allow "
                   "tie-break and per-agent group fallback) and "
                   "drop documents a Disallow covers for AGENT "
                   "(default '*'). The host-level companion to the "
                   "page-level --respect-noai")
    p.add_argument("--sitemap-coverage", action="store_true",
                   help="with --input-format warc: parse the crawl's "
                   "sitemap/sitemapindex XML captures (operators/"
                   "sitemaps.py — JVM-side from_xml, gzipped .xml.gz "
                   "payloads handled, malformed XML skipped) and "
                   "persist the advertised-but-never-captured URL "
                   "report to OUT_DIR/sitemap_coverage (kind: url | "
                   "sitemap | robots_sitemap) with per-kind counts "
                   "in report.json — the crawl-completeness audit "
                   "that closes the loop robots.txt Sitemap: lines "
                   "open")
    p.add_argument("--manifest-out", action="store_true",
                   help="record each written split's integrity "
                   "manifest (operators/manifest.py: per-file row "
                   "count + order-independent content sum) to "
                   "OUT_DIR/manifest_{split}.json — verify any later "
                   "copy/migration with verify_corpus WITHOUT the "
                   "original (recompaction is distinguished from "
                   "content change). Batch-only")
    p.add_argument("--verify-manifests", action="store_true",
                   help="verification mode, no pipeline: DOCS is a "
                   "previous run's OUT_DIR that was written with "
                   "--manifest-out; every split is re-read and "
                   "checked against its manifest_{split}.json "
                   "(identical / relaid_out_content_identical / "
                   "content_changed per split). Exit code 3 when any "
                   "split's content changed — the migration/copy "
                   "integrity gate")
    p.add_argument("--purge-ids", metavar="FILE", default=None,
                   help="maintenance mode, no pipeline: DOCS is an "
                   "--ingest-stream run's OUT_DIR; remove the doc ids "
                   "listed in FILE (one per line) from its corpus and "
                   "profile stores and — with --index-out — from the "
                   "dedup index, signature table, and bloom sidecar "
                   "(rebuilt; blooms cannot delete). The "
                   "right-to-be-forgotten operation an append-only "
                   "store otherwise lacks: partition-scoped corpus "
                   "rewrites, count-verified atomic index swaps, "
                   "audited counts in the JSON report "
                   "(operators/purge.py)")
    p.add_argument("--diff-against", metavar="DIR", default=None,
                   help="diff the final corpus against a previous "
                   "run's OUT_DIR (its train/val/test splits, or any "
                   "parquet of (doc_id, text)): report added/removed/"
                   "changed/unchanged counts (operators/diff.py — "
                   "ids + 8-byte text hashes shuffle, never text). "
                   "The cheap regression gate for reruns: a pure "
                   "refactor should report everything unchanged. "
                   "Batch-only")
    p.add_argument("--drift-against", metavar="DIR", default=None,
                   help="PSI distribution-drift report of the final "
                   "corpus against a previous run's OUT_DIR (its "
                   "splits, or any parquet with a text column, OR a "
                   "persisted --drift-save histogram — sniffed by "
                   "its (feature, bin, n) schema, so a 100 TB "
                   "reference is scanned once in its life and every "
                   "later comparison reads the kilobyte artifact): "
                   "per-feature PSI over doc-length/char-ratio/lang "
                   "histograms with the conventional stable/moderate/"
                   "major levels in the JSON report; per-bin detail "
                   "persisted to OUT_DIR/drift_bins "
                   "(operators/drift.py — kilobyte histograms "
                   "shuffle, never text). --diff-against answers "
                   "'which rows changed'; this answers 'did the "
                   "DISTRIBUTIONS shift' — the retrain-gate question "
                   "when a new crawl or filter lands. Batch-only")
    p.add_argument("--drift-save", action="store_true",
                   help="persist the final corpus's drift reference "
                   "histogram to OUT_DIR/drift_hist (kilobytes): "
                   "later runs pass it to --drift-against without "
                   "rescanning this corpus. Batch-only")
    p.add_argument("--drift-reference", metavar="HIST_DIR", default=None,
                   help="(--ingest-stream only) per-arrival drift "
                   "monitor: after the drain, each batch absent from "
                   "OUT_DIR/drift_log gets its feature histogram "
                   "compared against this persisted --drift-save "
                   "reference (a kilobyte artifact — the reference "
                   "corpus is never rescanned) and its per-feature "
                   "PSI levels appended to the log (batch-partitioned "
                   "dynamic overwrite, replay-idempotent like the "
                   "profile store); the report carries each batch's "
                   "worst level — the retrain/rollback alarm as "
                   "arrivals land")
    p.add_argument("--skew-report", metavar="COLS", default=None,
                   help="comma-separated column list: attach the "
                   "final corpus's top-20 heavy-hitter keys for that "
                   "column set (operators/skew.key_skew_report — "
                   "count, share, skew_ratio, suggested salt factor "
                   "for salted_join) to the JSON report. Diagnoses a "
                   "prospective join/groupBy key BEFORE a cluster run "
                   "pays for the straggler. Input columns projected "
                   "away by the pipeline (lang, source, url) are "
                   "joined back by doc_id. In --ingest-stream it runs "
                   "post-drain on the accumulated corpus, whose "
                   "schema is the arrival schema")
    p.add_argument("--output-format", default="parquet",
                   choices=["parquet", "jsonl"],
                   help="split shard format. parquet (default, zstd) "
                   "for Spark/warehouse consumers; jsonl writes "
                   "gzipped JSON-lines shards — the wire format most "
                   "training loaders ingest directly (one object per "
                   "line; int arrays as JSON arrays). Same "
                   "ordered-shard machinery either way. Incompatible "
                   "with --bucket-by/--zorder (parquet physical "
                   "layouts) and --manifest-out (manifests hash "
                   "parquet row values)")
    p.add_argument("--records-per-shard", type=int, default=65536)
    p.add_argument("--shard-target-mb", type=int, metavar="MB", default=None,
                   help="size shards by on-disk bytes instead of row "
                   "count: encode a bounded sample to measure the "
                   "corpus's real parquet bytes/row (sinks."
                   "estimate_parquet_row_bytes) and derive the "
                   "records-per-shard that lands each file near MB. "
                   "Overrides --records-per-shard; the derived value "
                   "is in the report as records_per_shard")
    p.add_argument("--bucket-by", metavar="COL[:N]", default=None,
                   help="write each split as a BUCKETED external "
                   "parquet table (operators.bucketing.write_bucketed: "
                   "one file per bucket, _bucket_spec.json sidecar, "
                   "catalog tables corpus_{split}_bkt) instead of "
                   "ordered shards. N defaults to 32. Every later "
                   "join/groupBy on COL against a same-spec table "
                   "runs with NO Exchange — pay the layout shuffle "
                   "once at write time, not per downstream job")
    p.add_argument("--zorder", metavar="C1,C2[,C3[,C4]]", default=None,
                   help="write each split Z-ORDER clustered on 2-4 "
                   "numeric columns (operators.layout.write_zordered) "
                   "instead of ordered shards: every named column "
                   "prunes most files under parquet min/max stats. "
                   "Ranges are measured per write (one tiny agg); for "
                   "many-increment tables call write_zordered with "
                   "pinned ranges instead")
    p.add_argument("--zorder-ranges", metavar="COL=LO:HI[,...]",
                   default=None,
                   help="pin the Z-order scaling window per column — "
                   "the incremental-table posture: without this the "
                   "ranges are measured per write, so each appended "
                   "increment gets a DIFFERENT grid (correct, but "
                   "cross-increment file pruning silently degrades); "
                   "pin the table's true ranges once and every "
                   "increment shares one grid. Columns not named "
                   "stay measured per write")
    p.add_argument("--zorder-files", type=int, metavar="N", default=16,
                   help="output file count for --zorder (default 16); "
                   "size it so files land near your target shard size")
    p.add_argument("--cpus", type=int, default=None)
    args = p.parse_args(argv)
    if args.bucket_by is not None and args.zorder is not None:
        p.error("--bucket-by and --zorder are mutually exclusive "
                "(one physical layout per write)")
    if args.drift_reference and not args.ingest_stream:
        p.error("--drift-reference is the STREAM loop's monitor; in "
                "batch mode pass the same artifact to --drift-against")
    if args.output_format == "jsonl":
        if args.bucket_by is not None or args.zorder is not None:
            p.error("--output-format jsonl cannot combine with "
                    "--bucket-by/--zorder (parquet physical layouts)")
        if args.manifest_out or args.verify_manifests:
            p.error("--output-format jsonl cannot combine with "
                    "--manifest-out/--verify-manifests (manifests "
                    "hash parquet row values)")
    for layout_flag in ("bucket_by", "zorder"):
        if getattr(args, layout_flag) is None:
            continue
        flag = "--" + layout_flag.replace("_", "-")
        if args.shard_target_mb is not None or args.shuffle_seed is not None:
            p.error(f"{flag} replaces the ordered-shard writer; it "
                    "cannot combine with --shard-target-mb or "
                    "--shuffle-seed")
    if args.bucket_by is not None:
        col, sep, n = args.bucket_by.partition(":")
        if not col or (sep and not n.isdigit()):
            p.error(f"--bucket-by wants COL or COL:N, got {args.bucket_by!r}")
        args.bucket_by = (col, int(n) if sep else 32)
        if args.bucket_by[1] < 1:
            p.error("--bucket-by bucket count must be >= 1")
    if args.zorder is not None:
        args.zorder = [c.strip() for c in args.zorder.split(",") if c.strip()]
        if not 2 <= len(args.zorder) <= 4:
            p.error("--zorder wants 2-4 comma-separated numeric columns")
    if args.zorder_files < 1:
        p.error("--zorder-files must be >= 1")
    if args.zorder_ranges is not None:
        if args.zorder is None:
            p.error("--zorder-ranges requires --zorder")
        ranges: dict[str, tuple[float, float]] = {}
        for spec in args.zorder_ranges.split(","):
            col, eq, win = spec.partition("=")
            lo, colon, hi = win.partition(":")
            col = col.strip()
            try:
                lo_f, hi_f = float(lo), float(hi)
            except ValueError:
                p.error(f"--zorder-ranges wants COL=LO:HI, got {spec!r}")
            if not eq or not colon:
                p.error(f"--zorder-ranges wants COL=LO:HI, got {spec!r}")
            if col not in args.zorder:
                p.error(f"--zorder-ranges column {col!r} is not in "
                        f"--zorder {','.join(args.zorder)}")
            if not lo_f < hi_f:
                p.error(f"--zorder-ranges {col}: LO must be < HI "
                        f"(got {lo}:{hi})")
            ranges[col] = (lo_f, hi_f)
        args.zorder_ranges = ranges
    if args.pack is not None and args.tokenize is None:
        p.error("--pack requires --tokenize")
    if args.cluster_balance is not None and not args.embeddings:
        p.error("--cluster-balance requires --embeddings")
    if args.dedup_prefer is not None and not (
        args.near_dedup or args.semdedup is not None
    ):
        p.error("--dedup-prefer only makes sense with --near-dedup "
                "and/or --semdedup (it picks the duplicate-family "
                "survivor)")
    if args.semdedup is not None:
        if not args.embeddings:
            p.error("--semdedup requires --embeddings")
        if not 0.0 < args.semdedup < 1.0:
            p.error("--semdedup EPS must be in (0, 1)")
    if args.semdedup_k is not None:
        if args.semdedup is None:
            p.error("--semdedup-k only makes sense with --semdedup")
        if args.semdedup_k < 2:
            p.error("--semdedup-k must be >= 2")
    if (args.semdedup_save or args.semdedup_model) and args.semdedup is None:
        p.error("--semdedup-save/--semdedup-model only make sense "
                "with --semdedup")
    if args.semdedup_save and args.semdedup_model:
        p.error("--semdedup-save needs a fresh fit; it cannot combine "
                "with --semdedup-model (there is nothing new to save)")
    if args.semdedup_model and args.semdedup_k is not None:
        p.error("--semdedup-k sizes a fresh fit; a loaded "
                "--semdedup-model fixes k already")
    if not (0 <= args.train_pct <= 100 and 0 <= args.val_pct <= 100):
        p.error("each split percentage must be in [0, 100]")
    if not 0 < args.train_pct + args.val_pct <= 100:
        p.error("train-pct + val-pct must be in (0, 100]")
    if args.drop_near_candidates and not args.dedup_against_index and not args.ingest_stream:
        p.error("--drop-near-candidates requires --dedup-against-index "
                "or --ingest-stream")
    if args.source_cap is not None and args.source_cap < 1:
        p.error("--source-cap must be >= 1")
    if args.profile_by and not args.profile:
        p.error("--profile-by only makes sense with --profile")
    if args.respect_noai and not args.html_extract:
        p.error("--respect-noai requires --html-extract (the noai "
                "signal lives in the raw markup)")
    mixture = None
    if args.source_mixture:
        mixture = {}
        for part in args.source_mixture.split(","):
            part = part.strip()
            if not part:
                continue
            if "=" not in part:
                p.error(f"--source-mixture entry {part!r} is not SRC=W")
            k, _, v = part.rpartition("=")
            try:
                mixture[k] = float(v)
            except ValueError:
                p.error(f"--source-mixture weight {v!r} is not a number")
        if not mixture:
            p.error("--source-mixture parsed to an empty recipe")
    if args.decontam_k < 2:
        p.error("--decontam-k must be >= 2")
    if not 0.0 <= args.decontam_max_overlap < 1.0:
        p.error("--decontam-max-overlap must be in [0, 1)")
    if args.decontam_audit and not args.decontam_ngrams:
        p.error("--decontam-audit requires --decontam-ngrams")
    if args.warc_index and args.input_format != "warc":
        p.error("--warc-index only makes sense with --input-format warc")
    if args.respect_robots is not None and args.input_format != "warc":
        p.error("--respect-robots needs --input-format warc (the rules "
                "are parsed from the archives' own robots.txt response "
                "captures; WET conversions carry no HTTP responses)")
    if args.warc_base and not args.warc_index:
        p.error("--warc-base requires --warc-index")
    if args.sitemap_coverage:
        if args.input_format != "warc":
            p.error("--sitemap-coverage needs --input-format warc "
                    "(sitemap XML captures are HTTP responses; WET "
                    "conversions carry none)")
        if args.warc_index:
            p.error("--sitemap-coverage walks the archives for "
                    "sitemap/robots captures; it cannot combine with "
                    "--warc-index (a response-record CDX index has no "
                    "reliable sitemap selector)")
    if args.build_warc_index is not None:
        if args.input_format != "warc":
            # NOT wet: the indexed-read path (--warc-index) only
            # consumes response-record entries, so a WET index would
            # be built but never consumable by this CLI — an index of
            # conversion records is an API-level use
            # (sources.warc.build_cdxj_entries(record_types=...))
            p.error("--build-warc-index needs --input-format warc "
                    "(--warc-index reads response records only; "
                    "index WET conversions via the "
                    "build_cdxj_entries API if you need that)")
        if args.warc_index:
            p.error("--build-warc-index conflicts with --warc-index: "
                    "an indexed run fetches byte ranges and never "
                    "walks the archives it would re-index")
    if args.archive_stats and args.input_format not in ("warc", "wet"):
        p.error("--archive-stats scans archives; it needs "
                "--input-format warc or wet")
    if args.domain_quality is not None:
        q, sep, nd = args.domain_quality.partition(":")
        try:
            q = float(q)
            nd = int(nd) if sep else 3
        except ValueError:
            p.error(f"--domain-quality wants Q or Q:MIN_DOCS, got "
                    f"{args.domain_quality!r}")
        if not 0 <= q <= 1:
            p.error("--domain-quality Q must be in [0, 1]")
        if nd < 1:
            p.error("--domain-quality MIN_DOCS must be >= 1")
        args.domain_quality = (q, nd)
    if args.decontam_action == "excise" and not args.decontam_ngrams:
        p.error("--decontam-action excise requires --decontam-ngrams "
                "(the bench whose spans get cut)")
    if args.decontam_excise_k < 10:
        p.error("--decontam-excise-k must be >= 10 (shorter windows "
                "excise common phrases, not leaks)")
    if args.embedding_audit and not args.decontam_bench:
        p.error("--embedding-audit requires --decontam-bench")
    if args.token_budget is not None:
        if not mixture:
            p.error("--token-budget needs --source-mixture (the "
                    "recipe whose shares it turns into token counts)")
        if args.token_budget < 1:
            p.error("--token-budget must be >= 1")
    if args.max_epochs is not None:
        if args.token_budget is None:
            p.error("--max-epochs only makes sense with --token-budget")
        if args.max_epochs <= 0:
            p.error("--max-epochs must be > 0")
    # list-valued flags are parsed here, once, for both modes' stages
    if args.script_filter is not None:
        from solana_snapshot_etl_tools_spark.functions.text import (
            SCRIPT_PATTERNS,
        )

        allowed = set(SCRIPT_PATTERNS) | {"unknown"}
        args.script_filter = [
            s.strip().lower() for s in args.script_filter.split(",")
            if s.strip()
        ]
        bad = sorted(set(args.script_filter) - allowed)
        if bad:
            p.error(f"--script-filter: unknown script(s) {bad}; "
                    f"one of {sorted(allowed)}")
        if not args.script_filter:
            p.error("--script-filter parsed to an empty list")
    if args.gopher_stopwords:
        args.gopher_stopwords = [
            s for s in args.gopher_stopwords.split(",") if s
        ]
    else:
        args.gopher_stopwords = None
    if args.term_max_ratio is not None and not args.term_blocklist:
        p.error("--term-max-ratio requires --term-blocklist")
    if args.term_max_ratio is not None and args.term_max_ratio < 0:
        p.error("--term-max-ratio must be >= 0 (a negative threshold "
                "silently drops every document)")
    if args.lm_reference and args.lm_model:
        p.error("--lm-reference and --lm-model are exclusive (train a "
                "new LM or load a saved one, not both)")
    if args.lm_keep_buckets is not None:
        args.lm_keep_buckets = [
            b.strip().lower() for b in args.lm_keep_buckets.split(",")
            if b.strip()
        ]
        bad = sorted(set(args.lm_keep_buckets) - {"head", "middle", "tail"})
        if bad or not args.lm_keep_buckets:
            p.error(f"--lm-keep-buckets: unknown bucket(s) {bad or '(empty)'}"
                    "; comma-list of head/middle/tail")
    n_lm_rules = (args.lm_max_ppl is not None) + (args.lm_keep_buckets is not None)
    if bool(args.lm_reference or args.lm_model) != (n_lm_rules == 1):
        p.error("exactly one of --lm-max-ppl/--lm-keep-buckets goes "
                "with exactly one of --lm-reference/--lm-model")
    if args.lm_bucket_by != "corpus" and args.lm_keep_buckets is None:
        p.error("--lm-bucket-by goes with --lm-keep-buckets")
    if args.lm_save and not args.lm_reference:
        p.error("--lm-save requires --lm-reference (it persists the "
                "freshly trained LM)")
    if args.dsir_target and args.dsir_model:
        p.error("--dsir-target and --dsir-model are exclusive (fit a "
                "new importance model or load a saved one, not both)")
    n_dsir_rules = (
        (args.dsir_keep is not None)
        + (args.dsir_sample is not None)
        + (args.dsir_sample_scale is not None)
    )
    if bool(args.dsir_target or args.dsir_model) != (n_dsir_rules == 1):
        p.error("exactly one of --dsir-keep/--dsir-sample/"
                "--dsir-sample-scale goes with exactly one of "
                "--dsir-target/--dsir-model")
    if args.dsir_keep is not None and args.dsir_keep < 1:
        p.error("--dsir-keep must be >= 1")
    if args.dsir_sample is not None and args.dsir_sample < 1:
        p.error("--dsir-sample must be >= 1")
    if args.dsir_sample_scale is not None:
        if args.dsir_sample_scale <= 0:
            p.error("--dsir-sample-scale must be > 0")
        if not args.dsir_model:
            p.error("--dsir-sample-scale requires --dsir-model: the "
                    "append-stable contract needs BOTH the fit and the "
                    "scale held fixed (a per-pool fit would re-weight "
                    "old documents)")
    if args.dsir_save and not args.dsir_target:
        p.error("--dsir-save requires --dsir-target (it persists the "
                "freshly fitted model)")
    if args.boilerplate_min_df is not None and args.boilerplate_min_df < 2:
        p.error("--boilerplate-min-df must be >= 2")
    if args.discover_boilerplate is not None and args.discover_boilerplate < 1:
        p.error("--discover-boilerplate TOP must be >= 1")
    if bool(args.decontam_bench) != (args.decontam_threshold is not None):
        p.error("--decontam-bench and --decontam-threshold go together")
    if args.decontam_bench and not args.embeddings:
        p.error("--decontam-bench needs --embeddings for the "
                "corpus-side vectors")
    if args.decontam_bench and not 0 < args.decontam_threshold <= 1:
        p.error("--decontam-threshold must be in (0, 1]")
    if args.index_out and args.index_out == args.dedup_against_index:
        p.error("--index-out must differ from --dedup-against-index "
                "(cannot overwrite an index while probing it)")
    if args.ingest_stream:
        if not args.index_out:
            p.error("--ingest-stream requires --index-out (the loop's "
                    "persisted state)")
        # every batch-only flag is REJECTED, not ignored — a silently
        # dropped stage would pollute the append-only corpus/index
        # state in a way later runs cannot repair
        for flag, name in (
            # the stream loop's arrival contract is parquet batches;
            # convert archives with a batch --input-format warc run
            (args.input_format != "parquet", "--input-format"),
            # stream batches append as they arrive; a global byte
            # target needs the whole corpus measured first
            (args.shard_target_mb is not None, "--shard-target-mb"),
            # a write-time layout is a whole-corpus physical property;
            # the stream appends batches and cannot re-bucket/re-sort
            # already-published files
            (args.bucket_by is not None, "--bucket-by"),
            (args.zorder is not None, "--zorder"),
            # a rerun-regression diff compares two COMPLETE runs; the
            # stream's corpus is append-only state, not a run artifact
            (args.diff_against, "--diff-against"),
            (args.drift_against, "--drift-against"),
            (args.drift_save, "--drift-save"),
            # purge is the maintenance mode OVER the stream's state,
            # not a stage inside the ingest run
            (args.purge_ids, "--purge-ids"),
            # the stream's corpus/index state is parquet by contract
            (args.output_format != "parquet", "--output-format"),
            (args.near_dedup, "--near-dedup"),
            # keep-best needs hindsight; the stream's published docs
            # are immutable, so its dedup is keep-first by contract
            (args.dedup_prefer is not None, "--dedup-prefer"),
            (args.tokenize, "--tokenize"),
            (args.cluster_balance, "--cluster-balance"),
            (args.dedup_against_index, "--dedup-against-index"),
            (args.dedup_cleaned, "--dedup-cleaned"),
            (args.shuffle_seed is not None, "--shuffle-seed"),
            # a GLOBAL per-source quota cannot be enforced one batch
            # at a time (--source-blocklist, a stateless filter, IS
            # allowed on the stream)
            (args.source_cap is not None, "--source-cap"),
            # NB: --dsir-target/--dsir-model ARE allowed here — DSIR
            # is a join+aggregation selection, so it runs as a
            # POST-DRAIN batch stage over the accumulated corpus (the
            # LM precedent), never inside the stream
            (args.source_mixture is not None, "--source-mixture"),
            # url dedup is a global groupBy; the stream's incremental
            # index already dedups content across batches
            (args.url_dedup, "--url-dedup"),
            # a domain's mean quality is a whole-corpus aggregate; a
            # per-batch mean would flip keep/drop for a domain as its
            # batches arrive
            (args.domain_quality is not None, "--domain-quality"),
            # the stream's arrival contract is parquet batches that
            # carry their own schema — the producer derives source
            (args.source_from_url, "--source-from-url"),
            # the stream profile store is keyed by batch
            (args.profile_by is not None, "--profile-by"),
            # a manifest records a COMPLETE corpus's content identity;
            # an append-only stream corpus has no completion point
            (args.manifest_out, "--manifest-out"),
            (args.verify_manifests, "--verify-manifests"),
            # coverage audits read the crawl archives (warc input)
            (args.sitemap_coverage, "--sitemap-coverage"),
            # NB: --boilerplate-min-df IS allowed here — line
            # doc-frequency is a global distinct count, so it runs as
            # a POST-DRAIN batch stage rewriting the derived views
            # (the LM precedent), never inside the stream
            # NB: --lm-reference/--lm-model ARE allowed here — LM
            # scoring is a join+aggregation pipeline, so it runs as a
            # POST-DRAIN batch stage over the accumulated corpus (the
            # --stratified-split precedent), never inside the stream
        ):
            if flag:
                p.error(f"--ingest-stream is a standalone mode ({name} "
                        "belongs to the batch pipeline)")
        return _ingest_stream_main(args)

    from pyspark.sql import Observation, functions as F

    from solana_snapshot_etl_tools_spark.functions import text as TXT
    from solana_snapshot_etl_tools_spark.functions.hashing import _2_32
    from solana_snapshot_etl_tools_spark.operators import dedup as DD
    from solana_snapshot_etl_tools_spark.operators.sinks import write_training_shards
    from solana_snapshot_etl_tools_spark.session import (
        cache_for_session,
        checkpoint_for_session,
        get_spark,
        release_session_caches,
    )

    spark = get_spark(app_name="corpus-build", cpus=args.cpus)
    report: dict[str, object] = {"input": args.docs, "out": args.out_dir}

    if args.purge_ids:
        # maintenance mode, no pipeline: DOCS is a stream run's
        # OUT_DIR (corpus/profile stores); --index-out the index root
        from solana_snapshot_etl_tools_spark.operators.purge import (
            purge_ids,
        )

        id_vals = _read_lines(args.purge_ids)
        if not id_vals:
            raise SystemExit(f"--purge-ids: {args.purge_ids!r} is empty")
        # ids parse as strings; purge_ids casts them to each store's
        # own key type (long fixtures, hex-string WARC corpora)
        ids = spark.createDataFrame(
            [(v,) for v in id_vals], "doc_id string"
        )
        report["purge"] = purge_ids(
            spark, args.docs, ids, index_dir=args.index_out
        )
        _emit_report(report, args.out_dir)
        return 0

    if args.verify_manifests:
        # verification mode, no pipeline: DOCS is a prior run's
        # OUT_DIR carrying manifest_{split}.json sidecars
        import glob as _glob
        import os.path as _osp

        from solana_snapshot_etl_tools_spark.operators.manifest import (
            verify_corpus,
        )

        mans = sorted(_glob.glob(_osp.join(args.docs, "manifest_*.json")))
        if not mans:
            raise SystemExit(
                f"--verify-manifests: no manifest_*.json under "
                f"{args.docs!r} (write them with --manifest-out)"
            )
        results: dict[str, object] = {}
        ok = True
        for mf in mans:
            split = _osp.basename(mf)[len("manifest_"):-len(".json")]
            v = verify_corpus(spark, _osp.join(args.docs, split), mf)
            results[split] = v
            ok = ok and v["status"] != "content_changed"
        report["manifest_verification"] = results
        _emit_report(report, args.out_dir)
        return 0 if ok else 3

    if args.archive_stats:
        # triage mode: per-archive health, no pipeline. One task per
        # archive, the same fan-out the real ingest would use.
        from solana_snapshot_etl_tools_spark.sources.warc import (
            warc_file_stats,
        )

        stats = sorted(
            warc_file_stats(spark, _warc_paths(args)).collect(),
            key=lambda r: r.warc_file,
        )
        report["archives"] = [
            [r.warc_file, r.n_records, r.n_skipped] for r in stats
        ]
        report["n_archives"] = len(stats)
        report["n_rotten"] = sum(1 for r in stats if r.n_skipped > 0)
        report["n_records_total"] = sum(r.n_records for r in stats)
        _emit_report(report, args.out_dir)
        return 0

    ride_source = args.source_cap is not None or mixture is not None
    need_source = bool(args.source_blocklist) or ride_source
    raw = _read_input(spark, args)
    if args.build_warc_index is not None:
        # one extra pass over the archives now buys every later run
        # CDX byte-range random access (--warc-index) instead of a
        # sequential re-scan
        from solana_snapshot_etl_tools_spark.sources.warc import (
            build_cdxj_entries,
            write_cdxj_file,
        )

        report["warc_index_out"] = args.build_warc_index
        report["warc_index_entries"] = write_cdxj_file(
            build_cdxj_entries(spark, _warc_paths(args)),
            args.build_warc_index,
        )
    if args.respect_robots is not None:
        from solana_snapshot_etl_tools_spark.operators.robots import (
            apply_robots,
        )

        # persist the parsed archives AND the (tiny) rules: the
        # blocked-count needs two counts, and the pipeline reads the
        # filtered frame again downstream — without the cache each of
        # those actions would re-parse every archive from scratch
        raw = raw.persist()
        before_robots = raw.count()
        rules = _robots_rules(spark, args).persist()
        raw = apply_robots(raw, rules, agent=args.respect_robots)
        report["robots_agent"] = args.respect_robots
        report["n_robots_blocked"] = before_robots - raw.count()
    if args.sitemap_coverage:
        import os.path as _osp

        from pyspark.sql import functions as F

        from solana_snapshot_etl_tools_spark.operators.sitemaps import (
            sitemap_coverage,
            stale_captures,
        )
        from solana_snapshot_etl_tools_spark.sources.warc import read_warc

        crawl = read_warc(spark, _warc_paths(args)).persist()
        cov = sitemap_coverage(crawl).persist()
        per_kind = {
            r["kind"]: r["n"]
            for r in cov.groupBy("kind").agg(F.count("*").alias("n")).collect()
        }
        cov.write.mode("overwrite").parquet(
            _osp.join(args.out_dir, "sitemap_coverage")
        )
        cov.unpersist()
        report["sitemap_missing_by_kind"] = per_kind
        report["n_sitemap_missing"] = int(sum(per_kind.values()))
        # the companion worklist: captured pages whose advertised
        # lastmod post-dates the capture — refetch candidates
        stale = stale_captures(crawl)
        stale.write.mode("overwrite").parquet(
            _osp.join(args.out_dir, "sitemap_stale")
        )
        report["n_sitemap_stale"] = spark.read.parquet(
            _osp.join(args.out_dir, "sitemap_stale")
        ).count()
        # and the per-host fetch plan a recrawl scheduler assigns
        # workers by (misses + stale x the host's Crawl-delay budget)
        from solana_snapshot_etl_tools_spark.operators.sitemaps import (
            recrawl_plan,
        )

        agent = args.respect_robots or "*"
        recrawl_plan(crawl, agent=agent).write.mode("overwrite").parquet(
            _osp.join(args.out_dir, "recrawl_plan")
        )
        report["n_recrawl_hosts"] = spark.read.parquet(
            _osp.join(args.out_dir, "recrawl_plan")
        ).count()
        crawl.unpersist()
    if need_source and "source" not in raw.columns:
        p.error("--source-blocklist/--source-cap need a 'source' "
                "column in DOCS")
    # 'source' rides the whole chain only when the cap needs it at the
    # end (every stage between here and the cap preserves extra
    # columns); a blocklist alone is consumed at the scan
    if args.url_dedup and "url" not in raw.columns:
        p.error("--url-dedup needs a 'url' column in DOCS")
    if args.domain_quality is not None and "url" not in raw.columns:
        p.error("--domain-quality needs a 'url' column in DOCS")
    if args.dedup_prefer is not None:
        if args.dedup_prefer not in raw.columns:
            p.error(f"--dedup-prefer {args.dedup_prefer!r}: no such "
                    f"column in DOCS (have {raw.columns})")
        _pt = raw.schema[args.dedup_prefer].dataType.simpleString()
        if _pt not in ("tinyint", "smallint", "int", "bigint",
                       "float", "double") and not _pt.startswith("decimal"):
            # a string column would cast to NULL and silently rank
            # every doc worst — the election would quietly degrade
            # to min-id while claiming keep-best
            p.error(f"--dedup-prefer {args.dedup_prefer!r} must be "
                    f"numeric (got {_pt})")
    cap_cols = ["source"] if ride_source else []
    docs = raw.select(
        "doc_id", "text",
        *(["source"] if need_source else []),
        *(["url"] if args.url_dedup or args.domain_quality is not None else []),
    )
    docs = _clean_text(docs, args)
    if args.discover_boilerplate is not None:
        # measurement stage on exactly the frame the filter would see
        _discover_boilerplate(docs, args, report)
    if args.boilerplate_min_df is not None:
        from solana_snapshot_etl_tools_spark.operators.paragraphs import (
            boilerplate_filter,
        )

        # strip corpus-frequent lines BEFORE the dedup tier: two pages
        # differing only in their shared boilerplate must collapse
        docs = boilerplate_filter(
            docs, args.boilerplate_min_df
        ).drop("n_lines", "n_removed_lines")
    report["n_input"] = docs.count()
    if args.source_blocklist:
        from solana_snapshot_etl_tools_spark.operators import (
            domains as DOM,
        )

        docs = DOM.source_blocklist_filter(
            docs, _read_lines(args.source_blocklist)
        )
        report["n_after_blocklist"] = docs.count()
    if args.url_dedup:
        from solana_snapshot_etl_tools_spark.operators.domains import (
            dedup_by_url,
        )

        # the cheap front line: one page under many raw URLs dies on
        # its short normalized key before any text-level dedup runs
        docs = dedup_by_url(docs)
        report["n_after_url_dedup"] = docs.count()
    if args.domain_quality is not None:
        from solana_snapshot_etl_tools_spark.operators.domains import (
            filter_low_quality_domains,
        )

        qmin, min_docs = args.domain_quality
        docs = filter_low_quality_domains(
            docs, min_mean_quality=qmin, min_docs=min_docs
        )
        report["n_after_domain_quality"] = docs.count()
    docs = docs.select("doc_id", "text", *cap_cols)

    kept = DD.exact_dedup(docs, "doc_id", "text")
    if args.near_dedup:
        # the sketch, the shingle verify, the label init, the keep-id
        # semi-join (and --dedup-prefer's re-join) all read this frame:
        # without the checkpoint each re-reads DOCS and re-runs the
        # normalize + md5 group-by. Lazy: the first job that reads it
        # fills it
        kept = checkpoint_for_session(kept, eager=False)
        pairs = DD.minhash_lsh_pairs(kept, "doc_id", "text")
        if args.dedup_prefer is not None:
            # keep-best survivor: the quality column is re-joined
            # from the INPUT parquet (the --profile-by precedent —
            # earlier stages deliberately drop their extra columns)
            ranked = kept.join(
                raw.select("doc_id", args.dedup_prefer), "doc_id", "left"
            )
            comp = DD.connected_components(
                pairs, ranked, "doc_id", prefer_col=args.dedup_prefer
            )
            report["dedup_prefer"] = args.dedup_prefer
        else:
            comp = DD.connected_components(pairs, kept, "doc_id")
        keep_ids = comp.filter(F.col("doc_id") == F.col("keep_id")).select("doc_id")
        kept = kept.join(keep_ids, "doc_id", "left_semi")
    # counted by the first job that runs the chain below (a stage
    # count, or the corpus persist job at the latest), not by a job
    # of its own; the key keeps its place in the report
    n_after_dedup = Observation("n_after_dedup")
    kept = kept.observe(n_after_dedup, F.count(F.lit(1)).alias("n"))
    report["n_after_dedup"] = None

    clean_col = (
        F.col("text") if args.no_pii else TXT.redact_pii(F.col("text"))
    )
    clean = kept.select("doc_id", clean_col.alias("text"), *cap_cols)
    if args.dedup_cleaned and not args.no_pii:
        # exact dedup ran on RAW text; redaction can map docs that
        # differed only in their PII spans onto the SAME cleaned text
        # (the data card measures this residue) — one more cheap
        # hash-groupBy pass on the cleaned text removes it
        clean = DD.exact_dedup(clean, "doc_id", "text")
    # the join+aggregation stages score only the row filters' survivors,
    # and run before the source cap so cap slots go to rows they keep
    filtered = _run_stages(
        spark, _row_filters(clean, args), args, report, _BATCH_FILTER_ORDER
    )

    if args.source_cap is not None:
        from solana_snapshot_etl_tools_spark.operators import (
            domains as DOM,
        )

        # LAST of the document filters: cap slots must go to documents
        # that survived quality/LM filtering, or an over-cap source
        # could spend its whole quota on rows the next stage drops.
        # Cached before counting — split/tokenize/shards all re-read it
        capped = DOM.source_cap(filtered, args.source_cap)
        if mixture is None:
            capped = capped.drop("source")  # last source-keyed stage
        filtered = cache_for_session(capped)
        report["n_after_source_cap"] = filtered.count()

    if mixture is not None and args.token_budget is not None:
        from solana_snapshot_etl_tools_spark.operators.sampling import (
            apply_token_budget_plan,
            token_budget_plan,
        )

        plan = token_budget_plan(
            filtered, mixture, args.token_budget,
            max_epochs=args.max_epochs,
        )
        report["token_budget_plan"] = plan
        # the CLI materializes only the DOWNSAMPLING side: clamp the
        # factors at 1 (epoch copies would duplicate doc ids through
        # the split hash — leakage across splits); the loader reads
        # the >1 factors from the reported plan
        clamped = {
            "sources": {
                s: {**p, "factor": min(1.0, p["factor"])}
                for s, p in plan["sources"].items()
            }
        }
        # drop 'epoch' (synthetic, from the budget plan) AND 'source'
        # — the plain --source-mixture branch below drops 'source' at
        # the same stage, so both mixture modes hand the downstream
        # chain an identical schema (pinned by test_cli_mixture_
        # modes_same_schema)
        filtered = cache_for_session(
            apply_token_budget_plan(filtered, clamped)
            .drop("source", "epoch")
        )
        report["n_after_source_mixture"] = filtered.count()
    elif mixture is not None:
        from solana_snapshot_etl_tools_spark.operators.sampling import (
            target_mixture_sample,
        )

        filtered = cache_for_session(
            target_mixture_sample(filtered, "source", mixture).drop(
                "source"
            )
        )
        report["n_after_source_mixture"] = filtered.count()

    # the split hash MUST be independent of knuth_hash32: the
    # cluster-balance sampler accepts the LOW-knuth-hash tail of each
    # stratum, and a knuth-keyed split would then route (nearly) all
    # survivors into one split — a multiplicative hash of a shifted id
    # is affine-correlated, so a different FAMILY (xxhash64) is
    # required, not a salt
    h = F.pmod(F.xxhash64("doc_id", F.lit("corpus-split")), F.lit(100 * _2_32))
    split = (
        F.when(h < F.lit(args.train_pct) * F.lit(_2_32), "train")
        .when(h < F.lit(args.train_pct + args.val_pct) * F.lit(_2_32), "val")
        .otherwise("test")
    )
    # everything downstream (counts, 3 split writes, BPE train+encode)
    # re-reads this frame — persist it once so the dedup/redaction/
    # scoring chain runs a single time
    corpus = filtered.select(
        "doc_id", "text", TXT.token_count(F.col("text")).alias("n_tokens"),
        split.alias("split"),
    ).persist()
    report["n_after_filters"] = corpus.count()
    report["n_after_dedup"] = n_after_dedup.get["n"]

    # incremental shard ingestion: probe the prior corpus's persisted
    # index AFTER this shard is cleaned — both sides of the probe are
    # then the same (redacted, filtered) text the index was built over.
    # Probing precedes balancing: the mixture is sampled from the
    # genuinely-new pool, not from docs about to be dropped as dups.
    prior_sigs = None
    if args.dedup_against_index:
        from solana_snapshot_etl_tools_spark.operators import (
            incremental as INC,
        )

        from pyspark.errors import AnalysisException

        d = args.dedup_against_index
        prior_index = spark.read.parquet(f"{d}/index")
        try:
            # bloom sidecar (index_bloom, written by --index-out):
            # definite exact-probe misses never reach the key join
            prior_bloom = spark.read.parquet(f"{d}/bloom")
        except AnalysisException:
            prior_bloom = None  # older index store — probe without it
        if prior_bloom is not None:
            # coverage guard (the batch-mode twin of the stream loop's
            # ingest._prior_bloom): a STREAM-written store is batch-
            # partitioned, and its bloom sidecar can cover fewer
            # batches than the index — a store upgraded mid-stream
            # (partials only for post-upgrade batches) or crashed
            # between the index and bloom writes. A filter covering
            # fewer keys than the index answers "definitely absent"
            # for keys it never saw and would silently skip real exact
            # duplicates, so unequal batch coverage disables it — the
            # probe is merely unaccelerated, never wrong. Batch-set
            # listing touches partition directories only, no data read.
            def _batches(df):
                if "batch" not in df.columns:
                    return None
                return {r.batch for r in df.select("batch").distinct().collect()}

            bloom_cov = _batches(prior_bloom)
            index_cov = _batches(prior_index)
            if bloom_cov != index_cov:
                prior_bloom = None
                report["bloom_probe_disabled"] = "batch_coverage_mismatch"
            elif bloom_cov is not None:
                prior_bloom = prior_bloom.drop("batch")
        try:
            prior_sigs = spark.read.parquet(f"{d}/sigs")
        except AnalysisException as e:
            # ONLY a genuinely absent sigs table (index persisted
            # without signatures) degrades probes to raw bucket
            # membership; permissions / corrupt-footer / transient FS
            # errors re-raise — same contract as ingest._read_prior
            cls = ""
            try:
                cls = e.getCondition() or ""
            except Exception:
                pass
            if "PATH_NOT_FOUND" not in cls and "Path does not exist" not in str(e):
                raise
            prior_sigs = None
            report["near_dup_probe_degraded"] = "no_signature_table"
        flagged = INC.dedup_against_index(
            corpus, prior_index, old_sigs=prior_sigs, bloom=prior_bloom
        ).persist()
        report["n_dup_exact_vs_index"] = flagged.filter(
            F.col("dup_exact")
        ).count()
        report["n_dup_near_vs_index"] = flagged.filter(
            ~F.col("dup_exact") & F.col("dup_near_candidate")
        ).count()
        keep = ~F.col("dup_exact")
        if args.drop_near_candidates:
            keep = keep & ~F.col("dup_near_candidate")
        deduped = flagged.filter(keep).drop(
            "dup_exact", "dup_near_candidate"
        ).persist()
        report["n_after_index_dedup"] = deduped.count()
        corpus.unpersist()
        flagged.unpersist()
        corpus = deduped

    # semantic dedup BEFORE topic balancing: the balancer should
    # sample from distinct content, not from semantic copies
    corpus = _run_stages(spark, corpus, args, report, _BATCH_CORPUS_ORDER)

    if args.cluster_balance is not None:
        from solana_snapshot_etl_tools_spark.operators import cluster as CL
        from solana_snapshot_etl_tools_spark.operators.sampling import (
            temperature_sample,
        )

        emb = (
            spark.read.parquet(args.embeddings)
            .select(F.col("vec_id").alias("doc_id"), "embedding")
            .join(corpus.select("doc_id"), "doc_id", "left_semi")
        )
        model = CL.kmeans_fit(emb, args.cluster_balance, id_col="doc_id")
        report["cluster_sizes"] = sorted(model["sizes"].tolist())
        assigned = CL.kmeans_assign(emb, model, id_col="doc_id").select(
            "doc_id", "cluster_id"
        )
        # docs without an embedding pass through UNSAMPLED (they must
        # not form a competing stratum: a handful of missing
        # embeddings would otherwise become the minimum stratum and
        # alpha=0 would collapse every cluster to its size)
        joined = corpus.join(assigned, "doc_id", "left")
        balanced = (
            temperature_sample(
                joined.filter(F.col("cluster_id").isNotNull()),
                "cluster_id",
                alpha=args.alpha,
            )
            .unionByName(joined.filter(F.col("cluster_id").isNull()))
            .drop("cluster_id")
            .persist()
        )
        report["n_after_balance"] = balanced.count()
        corpus.unpersist()  # only after the balanced frame is materialized
        corpus = balanced

    if args.stratified_split:
        from solana_snapshot_etl_tools_spark.operators.sampling import (
            stratified_split,
        )

        # the exact split must run on the FINAL corpus (balancing
        # after it would distort the floor-exact shares), replacing
        # the provisional hash split assigned above
        resplit = stratified_split(
            corpus.drop("split").withColumn(
                "_stratum", _text_stratum(args.stratified_split)
            ),
            "_stratum",
            train_pct=args.train_pct,
            val_pct=args.val_pct,
        ).drop("_stratum").persist()
        report["split_mode"] = f"stratified:{args.stratified_split}"
        resplit.count()
        corpus.unpersist()
        corpus = resplit

    if args.index_out:
        from solana_snapshot_etl_tools_spark.operators import (
            incremental as INC,
        )

        # the index covers the FINAL corpus (post-balance): docs the
        # sampler dropped are not in the corpus, so they are not in
        # the index. With --dedup-against-index this closes the loop:
        # index' = prior index UNION this shard's kept rows. The
        # signature frame is cached and shared so the sketch pass over
        # all text runs once, not once per output.
        new_sigs = INC.signature_table(corpus).persist()
        new_index = INC.build_index(corpus, sig=new_sigs)
        if args.dedup_against_index:
            new_index = spark.read.parquet(
                f"{args.dedup_against_index}/index"
            ).unionByName(new_index)
            if prior_sigs is not None:
                new_sigs = prior_sigs.unionByName(new_sigs)
        # partitioned by band so a probe's (band, key) equi-join prunes
        # to one directory per band instead of scanning the full index
        new_index.write.mode("overwrite").partitionBy("band").parquet(
            f"{args.index_out}/index"
        )
        new_sigs.write.mode("overwrite").parquet(f"{args.index_out}/sigs")
        report["index_rows"] = spark.read.parquet(
            f"{args.index_out}/index"
        ).count()
        report["signature_rows"] = spark.read.parquet(
            f"{args.index_out}/sigs"
        ).count()
        # bloom sidecar over the persisted index's exact keys — later
        # --dedup-against-index probes drop definite misses map-side
        INC.index_bloom(
            spark.read.parquet(f"{args.index_out}/index")
        ).write.mode("overwrite").parquet(f"{args.index_out}/bloom")
        new_sigs.unpersist()

    # --shard-target-mb derives records-per-shard from the FIRST frame
    # actually handed to the writer (the train split — document rows
    # or packed int-array rows, whichever the run produces): measuring
    # the pre-tokenize text frame would miss the target by the
    # text-to-tokens byte ratio whenever --tokenize is set
    _shard_state: dict[str, int] = {}

    def _shard_records(df):
        if args.shard_target_mb is None:
            return args.records_per_shard
        if "derived" not in _shard_state:
            from solana_snapshot_etl_tools_spark.operators.sinks import (
                estimate_parquet_row_bytes,
            )

            n = df.count()
            if n == 0:
                # an empty split can't seed the estimate; derive from
                # the first non-empty one instead
                return args.records_per_shard
            _bpr = estimate_parquet_row_bytes(df, total_rows=n)
            _shard_state["derived"] = max(
                1, int((args.shard_target_mb << 20) / _bpr)
            )
            report["records_per_shard"] = _shard_state["derived"]
        return _shard_state["derived"]

    def write_split(df, name, order_col):
        # --bucket-by / --zorder swap the ordered-shard writer for a
        # join-free (bucketed) or multi-column-pruning (Z-order)
        # physical layout — the pipeline's own output gets the layout
        # the downstream 100 TB jobs want, not just library callers
        if args.bucket_by is not None:
            from solana_snapshot_etl_tools_spark.operators import (
                bucketing as BKT,
            )

            bcol, nb = args.bucket_by
            if bcol not in df.columns:
                raise SystemExit(
                    f"--bucket-by {bcol!r}: no such column in the "
                    f"written split (have {df.columns})"
                )
            BKT.write_bucketed(
                df,
                f"corpus_{name}_bkt",
                f"{args.out_dir}/{name}",
                bucket_col=bcol,
                num_buckets=nb,
                sort_cols=[bcol],
            )
            rows = spark.table(f"corpus_{name}_bkt").count()
            return {
                "rows": rows,
                "shards": nb,
                "layout": f"bucketed({bcol}:{nb})",
            }
        if args.zorder is not None:
            from solana_snapshot_etl_tools_spark.operators import (
                layout as LAY,
            )

            missing = [c for c in args.zorder if c not in df.columns]
            if missing:
                raise SystemExit(
                    f"--zorder {missing}: no such column(s) in the "
                    f"written split (have {df.columns})"
                )
            from pyspark.sql.types import NumericType

            non_num = [
                c for c in args.zorder
                if not isinstance(df.schema[c].dataType, NumericType)
            ]
            if non_num:
                # zorder_key casts to double: a string column (e.g.
                # the hex doc_id the WARC path produces) would cast to
                # NULL and collapse its dimension to one degenerate
                # cell, or fail as "all-NULL" — refuse with a clear
                # message instead
                raise SystemExit(
                    f"--zorder {non_num}: not numeric in the written "
                    "split; Z-order needs numeric columns "
                    f"(schema: {df.schema.simpleString()})"
                )
            if df.isEmpty():
                # zorder_key scales by measured min/max; an empty
                # split has none — write the empty dir plainly
                df.write.mode("overwrite").parquet(f"{args.out_dir}/{name}")
                return {"rows": 0, "shards": 0,
                        "layout": f"zorder({','.join(args.zorder)})"}
            LAY.write_zordered(
                df,
                f"{args.out_dir}/{name}",
                args.zorder,
                num_files=args.zorder_files,
                ranges=args.zorder_ranges,
            )
            rows = spark.read.parquet(f"{args.out_dir}/{name}").count()
            out = {
                "rows": rows,
                "shards": args.zorder_files,
                "layout": f"zorder({','.join(args.zorder)})",
            }
            if args.zorder_ranges:
                out["zorder_pinned_ranges"] = {
                    c: list(r) for c, r in args.zorder_ranges.items()
                }
            return out
        if args.shuffle_seed is not None:
            df = df.withColumn(
                "_ord", F.xxhash64(F.col(order_col), F.lit(args.shuffle_seed))
            )
            order_col, drop = "_ord", True
        else:
            drop = False
        manifest = write_training_shards(
            df,
            f"{args.out_dir}/{name}",
            records_per_shard=_shard_records(df.drop("_ord") if drop else df),
            order_col=order_col,
            drop_order_col=drop,
            format=args.output_format,
        )
        rows = manifest.collect()
        out = {"rows": sum(r.rows for r in rows), "shards": len(rows)}
        if args.output_format != "parquet":
            out["format"] = args.output_format
        return out

    if args.tokenize is not None:
        from solana_snapshot_etl_tools_spark.operators.packing import (
            pack_token_sequences,
        )

        # the tokenizer is fit on the TRAIN split only — training it
        # on val/test would leak held-out text into merge/vocab
        # selection (the tokenizer is part of the model)
        train_docs = corpus.filter(F.col("split") == "train")
        if args.tokenizer == "unigram":
            from solana_snapshot_etl_tools_spark.operators import (
                unigram as UG,
            )

            model = UG.unigram_train(train_docs, vocab_size=args.tokenize)
            eos = len(UG.unigram_vocab(model))
            encode = UG.unigram_encode
        else:
            from solana_snapshot_etl_tools_spark.operators import bpe as B

            model = B.bpe_train(train_docs, n_merges=args.tokenize)
            eos = len(B.bpe_vocab(model))
            encode = B.bpe_encode
        # embedding tables must cover the EOS id one past the vocab
        report["vocab_size"] = eos
        report["eos_id"] = eos
        report["n_embeddings"] = eos + 1
        # the shards are unusable without the vocab that produced the
        # ids — persist the tokenizer artifact next to them
        from solana_snapshot_etl_tools_spark.operators.bpe import (
            tokenizer_save,
        )

        tok_path = f"{args.out_dir}/tokenizer.json"
        tokenizer_save(model, tok_path, args.tokenizer)
        report["tokenizer"] = tok_path
        splits = {}
        for name in ("train", "val", "test"):
            enc = encode(corpus.filter(F.col("split") == name), model)
            if args.pack is not None:
                enc = pack_token_sequences(enc, args.pack, eos_id=eos)
                splits[name] = write_split(enc, name, "seq_id")
            else:
                splits[name] = write_split(enc, name, "doc_id")
        if args.pack is None and splits["train"]["rows"]:
            # tokenizer-evaluation line: fertility + vocab utilization
            # of the train split, computed from the WRITTEN shards (a
            # re-read, never a re-encode; packed shards drop the
            # per-document encoding, so the line is unpacked-only)
            from solana_snapshot_etl_tools_spark.operators import (
                tokenizer_stats as TS,
            )

            train_enc = (
                spark.read.json(f"{args.out_dir}/train")
                if args.output_format == "jsonl"
                else spark.read.parquet(f"{args.out_dir}/train")
            )
            fert = TS.fertility_summary(
                corpus.filter(F.col("split") == "train"), train_enc
            )
            util = TS.vocab_utilization(train_enc, eos, top_k=5)
            # per-script fertility premiums (tokenizer fairness):
            # which writing systems pay more tokens per word under
            # this tokenizer — at most ~9 rows
            by_script = {
                r["_script"]: r["fertility_premium"]
                for r in TS.fertility_by_stratum(
                    corpus.filter(F.col("split") == "train").withColumn(
                        "_script", TXT.dominant_script(F.col("text"))
                    ),
                    train_enc,
                    "_script",
                ).collect()
            }
            report["tokenizer_eval"] = {
                "corpus_fertility": fert["corpus_fertility"],
                "corpus_chars_per_token": fert["corpus_chars_per_token"],
                "vocab_coverage": util["coverage"],
                "unigram_entropy_bits": util["unigram_entropy_bits"],
                "script_fertility_premium": by_script,
            }
    else:
        splits = {
            name: write_split(
                corpus.filter(F.col("split") == name).drop("split"), name, "doc_id"
            )
            for name in ("train", "val", "test")
        }
    report["splits"] = splits

    if args.manifest_out:
        import os.path as _osp

        from solana_snapshot_etl_tools_spark.operators.manifest import (
            write_manifest,
        )

        # bucketed splits live as catalog tables; ordered shards and
        # zorder layouts are plain parquet dirs the manifest can walk
        manifests = {}
        for name in splits:
            split_dir = _osp.join(args.out_dir, name)
            man = write_manifest(
                spark, split_dir,
                _osp.join(args.out_dir, f"manifest_{name}.json"),
            )
            manifests[name] = {
                "n_files": man["n_files"], "n_rows": man["n_rows"],
            }
        report["manifests"] = manifests

    if args.profile:
        from solana_snapshot_etl_tools_spark.operators.profile import (
            corpus_profile,
            merge_profiles,
            profile_estimates,
        )

        if args.profile_by:
            # per-group rows persist (any rollup recoverable later);
            # the report carries the global merge. The group key is
            # re-joined from the INPUT parquet — the pipeline's
            # source-keyed stages drop their column after use, and the
            # profile must group the FINAL corpus by the original key
            src_in = _read_input(spark, args)
            if args.profile_by not in src_in.columns:
                raise SystemExit(
                    f"--profile-by {args.profile_by!r}: no such column "
                    f"in the input parquet (have {src_in.columns})"
                )
            keyed = corpus.select("doc_id", "text").join(
                src_in.select("doc_id", args.profile_by), "doc_id", "left"
            )
            prof = corpus_profile(keyed, by=args.profile_by)
        else:
            prof = corpus_profile(corpus.select("doc_id", "text"))
        prof.write.mode("overwrite").parquet(f"{args.out_dir}/profile")
        spark.catalog.refreshByPath(f"{args.out_dir}/profile")
        stored = spark.read.parquet(f"{args.out_dir}/profile")
        merged = merge_profiles(stored) if args.profile_by else stored
        report["profile"] = profile_estimates(merged).collect()[0].asDict()
        if args.profile_by:
            report["profile_groups"] = stored.count()

    if args.data_card:
        from solana_snapshot_etl_tools_spark.operators.report import (
            corpus_report,
        )

        report["data_card"] = corpus_report(corpus.select("doc_id", "text"))
    if args.skew_report:
        _skew_report(corpus, args, report, src=raw)
    if args.diff_against:
        from solana_snapshot_etl_tools_spark.operators.diff import (
            diff_summary,
        )

        prior = _read_prior_run(spark, args.diff_against, ["doc_id", "text"])
        report["diff_against"] = args.diff_against
        report["diff"] = diff_summary(prior, corpus.select("doc_id", "text"))

    if args.drift_save:
        from solana_snapshot_etl_tools_spark.operators.drift import (
            feature_histograms,
        )

        feature_histograms(
            corpus,
            lang_col="lang" if "lang" in corpus.columns else None,
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{args.out_dir}/drift_hist"
        )
        report["drift_hist_saved"] = True
    if args.drift_against:
        from solana_snapshot_etl_tools_spark.operators.drift import (
            corpus_drift,
            drift_summary,
            drift_vs_reference,
        )

        prior = _read_prior_run(spark, args.drift_against)
        if {"feature", "bin", "n"} <= set(prior.columns):
            # a persisted --drift-save histogram: compare against the
            # kilobyte artifact, never rescanning the reference corpus
            bins = drift_vs_reference(corpus, prior)
        else:
            # lang shares only when BOTH sides carry the column
            lang_col = (
                "lang"
                if "lang" in prior.columns and "lang" in corpus.columns
                else None
            )
            bins = corpus_drift(prior, corpus, lang_col=lang_col)
        bins.write.mode("overwrite").parquet(f"{args.out_dir}/drift_bins")
        report["drift_against"] = args.drift_against
        report["drift"] = {
            r.feature: {"psi": round(r.psi, 6), "level": r.level}
            for r in drift_summary(bins).collect()
        }

    corpus.unpersist()
    release_session_caches()
    _emit_report(report, args.out_dir)
    return 0




def _clean_text(docs, args):
    """--html-extract (with --respect-noai) and --normalize: the
    row-preserving text rewrites that run before every text-reading
    stage, on the batch frame and on the stream alike."""
    from pyspark.sql import functions as F

    if args.html_extract:
        from solana_snapshot_etl_tools_spark.functions import html as HTML

        if args.respect_noai:
            # consent first: the signal lives in the raw markup the
            # next line strips. NULL html is unjudgeable -> kept
            docs = docs.filter(
                ~F.coalesce(HTML.html_noai(F.col("text")), F.lit(False))
            )
        docs = docs.withColumn("text", HTML.html_to_text(F.col("text")))
    if args.normalize:
        from solana_snapshot_etl_tools_spark.functions.normalize import (
            normalize_text,
        )

        docs = docs.withColumn("text", normalize_text(F.col("text")))
    return docs


def _row_filters(docs, args):
    """The per-document filters, in order: --quality, --lang,
    --script-filter, --gopher, --fineweb, --term-blocklist and
    --quality-model. Each is a column expression or a transform-only
    model with a per-id hash keep rule, so the same chain runs on the
    batch frame and on the stream. Only the term blocklist is spelled
    per mode: a join in batch (no 10k-term InSet cap — real abuse lists
    exceed it), the zero-exchange column rule on a stream."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.functions import text as TXT
    from solana_snapshot_etl_tools_spark.operators import quality as QUAL

    c = F.col("text")
    docs = docs.filter(TXT.quality_score(c) >= args.quality)
    if args.lang:
        docs = docs.filter(TXT.lang_id(c) == args.lang)
    if args.script_filter:
        # writing-system routing: one codegen'd projection
        docs = docs.filter(TXT.dominant_script(c).isin(args.script_filter))
    cols = docs.columns
    if args.gopher:
        docs = (
            QUAL.gopher_quality_flags(docs, stopwords=args.gopher_stopwords)
            .filter(F.col("passes_gopher"))
            .select(*cols)
        )
    if args.fineweb:
        docs = (
            QUAL.fineweb_quality_flags(docs)
            .filter(F.col("passes_fineweb"))
            .select(*cols)
        )
    if args.term_blocklist:
        from solana_snapshot_etl_tools_spark.operators import safety as SAF

        terms = _read_lines(args.term_blocklist)
        ratio = args.term_max_ratio or 0.0
        if docs.isStreaming:
            docs = docs.filter(SAF.blocklist_ratio_column(c, terms) <= ratio)
        else:
            docs = SAF.term_blocklist_filter(docs, terms, max_ratio=ratio)
    if args.quality_model:
        from pyspark.ml import PipelineModel

        from solana_snapshot_etl_tools_spark.operators.quality_model import (
            quality_model_filter,
        )

        docs = quality_model_filter(
            docs,
            PipelineModel.load(args.quality_model),
            threshold=args.quality_model_threshold,
            alpha=args.quality_model_alpha,
            id_col="doc_id",
        ).drop("quality_prob")
    return docs


def _text_stratum(kind):
    """The text's n-gram language id ('lang') or dominant writing
    system ('script') as a stratum column for --lm-bucket-by and
    --stratified-split; None ('corpus') means one global stratum."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.functions import text as TXT

    fn = {"lang": TXT.lang_id, "script": TXT.dominant_script}.get(kind)
    return fn(F.col("text")) if fn else None


def _read_lines(path):
    """The non-blank, stripped lines of a list file (blocklists, ids)."""
    with open(path) as fh:
        return [ln.strip() for ln in fh if ln.strip()]


def _load_lm(spark, args, report):
    """The n-gram LM of the perplexity stage: loaded from --lm-model
    (the CCNet train-once posture) or trained on --lm-reference and,
    with --lm-save, persisted. Its count table is cached for the run
    BEFORE the save, so lm_save's write materializes the cache the
    scoring join then reuses; release_session_caches frees it."""
    from solana_snapshot_etl_tools_spark.operators.ngram_lm import (
        lm_load,
        lm_save,
        ngram_lm_train,
    )
    from solana_snapshot_etl_tools_spark.session import cache_for_session

    if args.lm_model:
        lm = lm_load(spark, args.lm_model)
        report["lm_model"] = args.lm_model
    else:
        ref = spark.read.parquet(args.lm_reference).select("text")
        lm = ngram_lm_train(ref, n=args.lm_ngram, min_count=args.lm_min_count)
    lm["counts"] = cache_for_session(lm["counts"])
    if args.lm_save:
        lm_save(lm, args.lm_save)
        report["lm_saved_to"] = args.lm_save
    return lm


def _lm_filter(spark, corpus, args, report):
    """The --lm-reference/--lm-model stage (the CCNet recipe): drop
    documents whose perplexity under a high-quality reference LM
    exceeds --lm-max-ppl, or keep the --lm-keep-buckets terciles of
    the corpus's own perplexity — per language/script with
    --lm-bucket-by. Unscorable rows drop under either rule."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.operators.ngram_lm import (
        perplexity_buckets,
        perplexity_filter,
    )

    lm = _load_lm(spark, args, report)
    if args.lm_keep_buckets is None:
        return perplexity_filter(corpus, lm, args.lm_max_ppl)
    return perplexity_buckets(
        corpus, lm, stratum_col=_text_stratum(args.lm_bucket_by)
    ).filter(
        F.col("ppl_bucket").isin(args.lm_keep_buckets)
    ).drop("perplexity", "ppl_bucket")


def _dsir_select(spark, corpus, args, report):
    """The --dsir-target/--dsir-model selection stage, shared by the
    batch pipeline and the stream mode's post-drain pass: fit (or
    load) the importance model, keep exactly --dsir-keep documents by
    seeded Gumbel-top-k. With --dsir-model, scoring uses the FIT-TIME
    raw distribution (the train-once posture)."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.operators.dsir import (
        dsir_fit,
        dsir_load,
        dsir_sample,
        dsir_save,
        dsir_scale,
        dsir_top_k,
    )

    if args.dsir_model:
        model = dsir_load(spark, args.dsir_model)
        report["dsir_model"] = args.dsir_model
    else:
        tgt = (
            spark.read.parquet(args.dsir_target)
            .select("text")
            .withColumn("doc_id", F.monotonically_increasing_id())
        )
        model = dsir_fit(corpus, tgt)
        if args.dsir_save:
            dsir_save(model, args.dsir_save)
            report["dsir_saved_to"] = args.dsir_save
    if args.dsir_sample_scale is not None:
        # append-stable posture: a held-fixed (model, scale) pair —
        # this run's decisions agree with every other run that uses
        # the same pair, regardless of what else is in its pool
        report["dsir_scale"] = args.dsir_sample_scale
        return dsir_sample(
            corpus, None, 1, model=model, scale=args.dsir_sample_scale
        )
    if args.dsir_sample is not None:
        # calibrate explicitly (identical arithmetic to dsir_sample's
        # internal path — the cached weight frame is reused) so the
        # scale lands in the report for later --dsir-sample-scale runs
        c = dsir_scale(corpus, model, args.dsir_sample)
        if c == float("inf"):  # infeasible ask: keep-all degenerate
            report["dsir_calibrated_scale"] = "infeasible_keep_all"
            return dsir_sample(corpus, None, args.dsir_sample, model=model)
        report["dsir_calibrated_scale"] = c
        return dsir_sample(corpus, None, 1, model=model, scale=c)
    return dsir_top_k(corpus, None, args.dsir_keep, model=model)


def _discover_boilerplate(docs, args, report):
    """The --discover-boilerplate report stage, shared by the batch
    pipeline (pre-filter frame) and the stream mode's post-drain pass:
    top heavy-hitter normalized lines (the boilerplate_filter removal
    unit, so the list previews exactly what a threshold would strip),
    top heavy-hitter tokens, and a suggested --boilerplate-min-df
    recomputable from the reported doc count — measurement
    (profile.frequent_tokens / paragraphs.frequent_lines) closed to
    action (the flag value for the next run)."""
    from solana_snapshot_etl_tools_spark.operators.paragraphs import (
        frequent_lines,
        suggest_boilerplate_min_df,
    )
    from solana_snapshot_etl_tools_spark.operators.profile import (
        frequent_tokens,
    )

    top = args.discover_boilerplate
    n_docs = docs.count()
    report["boilerplate_discovery_n_docs"] = n_docs
    report["suggested_boilerplate_min_df"] = suggest_boilerplate_min_df(
        n_docs
    )
    report["frequent_lines"] = [
        [r.line, r.doc_freq]
        for r in frequent_lines(docs, top=top).collect()
    ]
    report["frequent_tokens"] = [
        [r.token, r.n_occurrences, round(r.share, 6)]
        for r in frequent_tokens(docs, support=1e-3).limit(top).collect()
    ]



def _read_prior_run(spark, path, cols=("*",)):
    """A previous run's corpus for --diff-against/--drift-against: the
    union of its train/val/test split dirs that hold ``cols``, or, when
    none does, ``path`` itself read as one parquet (loud if neither
    shape)."""
    from functools import reduce

    from pyspark.errors import AnalysisException

    parts = []
    for name in ("train", "val", "test"):
        try:
            parts.append(spark.read.parquet(f"{path}/{name}").select(*cols))
        except AnalysisException:
            continue
    if not parts:
        return spark.read.parquet(path).select(*cols)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
    )


def _emit_report(report, out_dir):
    """Print the one-line JSON contract AND persist it as
    OUT_DIR/report.json — the run's provenance record (stage counts,
    derived knob values, audit tables) next to the data it describes.
    The file is best-effort: a read-only out_dir must not fail a run
    whose data already landed."""
    line = json.dumps(report)
    print(line)
    try:
        import os

        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "report.json"), "w") as f:
            f.write(line + "\n")
    except OSError:
        pass

def _read_input(spark, args):
    """Read DOCS per --input-format, applying --source-from-url.

    The derivation lives HERE (not in the main pipeline) because
    several late stages re-read the input to re-join columns the
    pipeline deliberately dropped (--profile-by, --dedup-prefer) —
    a 'source' derived only on the first read would be invisible to
    those re-reads."""
    df = _read_input_base(spark, args)
    if getattr(args, "source_from_url", False):
        if "source" in df.columns:
            raise SystemExit(
                "--source-from-url: the input already has a 'source' "
                "column — derivation would overwrite it; drop the "
                "flag or rename the column"
            )
        if "url" not in df.columns:
            raise SystemExit(
                "--source-from-url needs a 'url' column in DOCS "
                f"(have {df.columns})"
            )
        from solana_snapshot_etl_tools_spark.operators.domains import (
            with_registered_domain,
        )

        df = with_registered_domain(df, "url", out_col="source")
    return df


def _read_input_base(spark, args):
    """Read DOCS per --input-format. warc/wet accept a glob or a
    comma-separated path manifest (Common Crawl's warc.paths shape);
    their parse is re-runnable, so later stages that re-join input
    columns (--profile-by, --dedup-prefer) work unchanged."""
    if args.input_format == "parquet":
        return spark.read.parquet(args.docs)
    if args.input_format == "jsonl":
        df = spark.read.json(args.docs)
        for col in ("doc_id", "text"):
            if col not in df.columns:
                raise SystemExit(
                    f"--input-format jsonl: required column {col!r} "
                    f"missing from DOCS (have {df.columns})"
                )
        return df
    from solana_snapshot_etl_tools_spark.sources.warc import (
        warc_html_documents,
        wet_documents,
    )

    if args.warc_index:
        import os.path as _osp

        from pyspark.sql import functions as F

        from solana_snapshot_etl_tools_spark.sources.warc import (
            html_response_documents,
            read_cdxj,
            read_warc_records_at,
        )

        idx = read_cdxj(spark, args.warc_index)
        # predicate pushdown on the kilobyte index rows: only 200-OK
        # html byte ranges are ever fetched from the archives
        sel = idx.filter(
            (F.col("status") == 200)
            & F.lower(F.coalesce("mime", F.lit(""))).contains("html")
        )
        base = args.warc_base or _osp.dirname(
            args.warc_index.split(",")[0].rstrip("/")
        )
        # fail loudly on a wrong --warc-base BEFORE the fetch: the
        # range reader turns unopenable archives into null audit rows
        # (per-entry skip-not-fail), which this pipeline would then
        # filter out — a run against the wrong directory would
        # otherwise complete "successfully" with an empty corpus.
        # Distinct filenames are a tiny frame; only checkable when the
        # base is a scheme-less local path AND the master is local —
        # on a real cluster executors may see archives the driver's
        # filesystem does not, so a driver-side exists() would abort
        # runs that read fine
        if "://" not in base and spark.conf.get(
            "spark.master", ""
        ).startswith("local"):
            missing = sorted(
                r.filename
                for r in sel.select("filename").distinct().collect()
                if not _osp.exists(_osp.join(base, r.filename))
            )
            if missing:
                raise SystemExit(
                    f"--warc-index names archives not found under "
                    f"{base!r}: {missing[:5]}"
                    f"{' ...' if len(missing) > 5 else ''} — fix "
                    "--warc-base (index filenames resolve against it)"
                )
        recs = read_warc_records_at(spark, sel, base_dir=base)
        return html_response_documents(recs).dropDuplicates(["doc_id"])

    reader = warc_html_documents if args.input_format == "warc" else wet_documents
    # doc_id is content-addressed, so byte-identical re-fetches of one
    # page are IDENTICAL ROWS sharing one id. The pipeline's input
    # contract is unique doc_id (duplicate ids semi-join themselves
    # back through every dedup stage), so collapse them here — one
    # id-keyed shuffle at ingest, the price of the contract.
    return reader(spark, _warc_paths(args)).dropDuplicates(["doc_id"])


def _warc_paths(args):
    return (
        [p.strip() for p in args.docs.split(",") if p.strip()]
        if "," in args.docs
        else args.docs
    )


def _robots_rules(spark, args):
    """Rules table for --respect-robots: parse every 200-OK
    /robots.txt response in the SAME archives the documents come
    from. In --warc-index mode the robots captures are selected on
    the index and fetched by byte range, same as the documents."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.operators.robots import (
        parse_robots_records,
    )
    from solana_snapshot_etl_tools_spark.sources.warc import (
        read_cdxj,
        read_warc,
        read_warc_records_at,
    )

    if args.warc_index:
        import os.path as _osp

        idx = read_cdxj(spark, args.warc_index)
        sel = idx.filter(
            (F.col("status") == 200)
            & F.lower(F.col("url")).rlike(r"^[a-z]+://[^/]+/robots\.txt$")
        )
        base = args.warc_base or _osp.dirname(
            args.warc_index.split(",")[0].rstrip("/")
        )
        recs = read_warc_records_at(spark, sel, base_dir=base)
    else:
        recs = read_warc(spark, _warc_paths(args))
    return parse_robots_records(recs)


def _skew_report(corpus, args, report, src=None):
    """The --skew-report stage, shared by the batch pipeline and the
    stream mode's post-drain pass: top-20 heavy-hitter keys of the
    FINAL corpus for the requested column set, with the salt factor
    that would flatten each one (operators/skew.key_skew_report).
    Columns the final frame no longer carries (lang, source, url —
    projected away early) are joined back from the raw input by
    doc_id when ``src`` is given, same pattern as --profile-by.
    Raises loudly (ValueError) on a column neither frame carries — a
    typo'd key must never ship an empty-but-green report."""
    from solana_snapshot_etl_tools_spark.operators.skew import (
        key_skew_report,
    )

    cols = [c.strip() for c in args.skew_report.split(",") if c.strip()]
    frame = corpus
    missing = [c for c in cols if c not in frame.columns]
    if missing and src is not None:
        bad = [c for c in missing if c not in src.columns]
        if bad:
            raise ValueError(
                f"--skew-report column(s) {bad} in neither the final "
                f"corpus ({frame.columns}) nor the input ({src.columns})"
            )
        frame = frame.join(src.select("doc_id", *missing), "doc_id", "left")
    rows = key_skew_report(frame, cols, top=20).collect()
    report["skew_key"] = cols
    report["skew"] = [
        [*(r[c] for c in cols), r.key_count, round(r.share, 6),
         round(r.skew_ratio, 3), r.suggested_salt]
        for r in rows
    ]


def _semdedup_stage(spark, corpus, args, report):
    """The --semdedup stage, shared by the batch pipeline and the
    stream mode's post-drain pass: spherical-k-means-bucketed
    semantic dedup (operators/semdedup.py) over the corpus docs that
    HAVE an embedding; docs without one pass through (the
    decontamination posture — unjudgeable is not droppable).

    Append-stability contract (stream mode): a HELD-FIXED model
    (--semdedup-model) keeps cluster assignments — and therefore the
    comparison set for every unchanged vector — stable as the corpus
    grows; a fresh fit per drain moves the cluster boundaries with
    the data, so earlier drains' keep/drop decisions can flip. The
    report records which posture ran (``semdedup_append_stable``)
    and a fresh fit in stream mode warns on stderr."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.operators.semdedup import (
        semdedup_filter,
    )

    if getattr(args, "ingest_stream", False):
        report["semdedup_append_stable"] = bool(args.semdedup_model)
        if not args.semdedup_model:
            import sys as _sys

            print(
                "corpus_cli: --semdedup in --ingest-stream without "
                "--semdedup-model refits the cluster model every "
                "drain — keep/drop decisions for already-ingested "
                "docs may flip as boundaries move. Fit once with "
                "--semdedup-save, then pass --semdedup-model for "
                "append-stable decisions.",
                file=_sys.stderr,
            )

    emb = (
        spark.read.parquet(args.embeddings)
        .select("vec_id", "embedding")
        .join(
            corpus.select(F.col("doc_id").alias("vec_id")),
            "vec_id",
            "left_semi",
        )
    )
    n_emb = emb.count()
    if n_emb == 0:
        return corpus
    prefer = getattr(args, "dedup_prefer", None)
    docs_in, drop_pref = corpus, False
    if prefer is not None:
        report["dedup_prefer"] = prefer
        if prefer not in docs_in.columns:
            # batch-mode input validation guarantees the column exists
            # in the INPUT parquet; the pipeline dropped it — re-join
            # (the --profile-by precedent)
            docs_in = docs_in.join(
                _read_input(spark, args).select("doc_id", prefer),
                "doc_id",
                "left",
            )
            drop_pref = True
    if args.semdedup_model:
        from solana_snapshot_etl_tools_spark.operators.cluster import (
            kmeans_load,
        )

        model = kmeans_load(spark, args.semdedup_model)
        report["semdedup_model"] = args.semdedup_model
        report["semdedup_k"] = len(model["centroids"])
        kept = semdedup_filter(
            docs_in, emb, model=model, threshold=args.semdedup,
            prefer_col=prefer,
        )
    else:
        # default k targets ~1k-vector clusters: the per-task pairwise
        # block stays tiny and the fit's k x d driver state stays small
        k = args.semdedup_k or max(2, n_emb // 1024)
        k = max(1, min(k, n_emb))
        report["semdedup_k"] = k
        if args.semdedup_save:
            from solana_snapshot_etl_tools_spark.operators.cluster import (
                kmeans_fit,
                kmeans_save,
            )

            model = kmeans_fit(emb, k, normalize=True)
            kmeans_save(model, args.semdedup_save, spark)
            report["semdedup_saved_to"] = args.semdedup_save
            kept = semdedup_filter(
                docs_in, emb, model=model, threshold=args.semdedup,
                prefer_col=prefer,
            )
        else:
            kept = semdedup_filter(
                docs_in, emb, k, threshold=args.semdedup,
                prefer_col=prefer,
            )
    return kept.drop(prefer) if drop_pref else kept


def _ngram_decontam_filter(spark, corpus, args, report):
    """The --decontam-ngrams stage, shared by the batch pipeline and
    the stream mode's post-drain pass: flag documents sharing verbatim
    token k-grams with the benchmark parquet (decontam.decontaminate),
    drop those past --decontam-max-overlap, optionally persist the
    per-benchmark-item audit table."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.operators import decontam as DCN
    from solana_snapshot_etl_tools_spark.session import cache_for_session

    bench = spark.read.parquet(args.decontam_ngrams).select("text")
    bench = bench.withColumn(
        "bench_id", F.monotonically_increasing_id()
    )
    # cached: the flagged count and the anti-join below both read it
    flagged = cache_for_session(DCN.decontaminate(
        corpus,
        # decontaminate reads ONE id_col name on both sides
        bench.withColumnRenamed("bench_id", "doc_id"),
        id_col="doc_id", text_col="text", k=args.decontam_k,
    ))
    dropped = flagged.filter(
        F.col("contamination") > args.decontam_max_overlap
    ).select("doc_id")
    report["n_ngram_decontam_flagged"] = flagged.count()
    if args.decontam_audit:
        audit = DCN.contamination_audit(
            corpus, bench, id_col="doc_id", text_col="text",
            bench_id_col="bench_id", k=args.decontam_k,
        )
        audit.write.mode("overwrite").parquet(
            f"{args.out_dir}/decontam_audit"
        )
        spark.catalog.refreshByPath(f"{args.out_dir}/decontam_audit")
        saved = spark.read.parquet(f"{args.out_dir}/decontam_audit")
        report["n_bench_items_dirty"] = saved.filter(
            F.col("clean") == False  # noqa: E712 — NULL-excluding
        ).count()
        report["n_bench_items_unmeasurable"] = saved.filter(
            F.col("clean").isNull()
        ).count()
    if args.decontam_action == "excise":
        from solana_snapshot_etl_tools_spark.operators.excise import (
            excise_contaminated_spans,
        )

        # surgical mode: cut the leaked spans, keep every document —
        # text_clean replaces text IN PLACE so every later stage and
        # the written splits see the redacted corpus
        ex = excise_contaminated_spans(
            corpus.select("doc_id", "text"), bench,
            k=args.decontam_excise_k,
        )
        report["n_ngram_decontam_excised_docs"] = ex.filter(
            F.col("n_excised_chars") > 0
        ).count()
        report["n_ngram_decontam_excised_chars"] = ex.agg(
            F.sum("n_excised_chars")
        ).collect()[0][0]
        return (
            corpus.drop("text")
            .join(
                ex.select("doc_id", F.col("text_clean").alias("text")),
                "doc_id",
            )
        )
    return corpus.join(dropped, "doc_id", "left_anti")


def _decontam_filter(spark, corpus, args, report):
    """The --decontam-bench stage, shared by the batch pipeline and
    the stream mode's post-drain pass: score the corpus docs that HAVE
    an embedding against the benchmark embedding set (broadcast path —
    eval suites are MBs; the loud MAX_BROADCAST_BENCH cap guards the
    closure) and anti-join the flagged ids out. Documents without an
    embedding pass through unchecked — they cannot be scored, and
    silently dropping them would punish missing metadata."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.operators.decontam import (
        decontaminate_embedding,
    )
    from solana_snapshot_etl_tools_spark.session import cache_for_session

    emb = (
        spark.read.parquet(args.embeddings)
        .select(F.col("vec_id").alias("doc_id"), "embedding")
        .join(corpus.select("doc_id"), "doc_id", "left_semi")
    )
    bench = spark.read.parquet(args.decontam_bench)
    bid = "bench_id" if "bench_id" in bench.columns else "vec_id"
    bench = bench.select(F.col(bid).alias("bench_id"), "embedding")
    first = bench.select("embedding").first()
    if first is None:
        report["n_decontam_flagged"] = 0
        return corpus
    dims = len(first[0])
    flagged = cache_for_session(
        decontaminate_embedding(
            emb,
            bench,
            threshold=args.decontam_threshold,
            dims=dims,
            method="broadcast",
        ).select("doc_id")
    )
    report["n_decontam_flagged"] = flagged.count()
    if args.embedding_audit:
        from solana_snapshot_etl_tools_spark.operators.decontam import (
            embedding_contamination_audit,
        )

        audit = embedding_contamination_audit(
            emb, bench, threshold=args.decontam_threshold, dims=dims
        )
        audit.write.mode("overwrite").parquet(
            f"{args.out_dir}/embedding_audit"
        )
        spark.catalog.refreshByPath(f"{args.out_dir}/embedding_audit")
        saved = spark.read.parquet(f"{args.out_dir}/embedding_audit")
        report["n_bench_items_embedding_contaminated"] = saved.filter(
            F.col("contaminated") == True  # noqa: E712 — NULL-excluding
        ).count()
    return corpus.join(flagged, "doc_id", "left_anti")


class _Stage(NamedTuple):
    """One post-filter stage: ``run(spark, df, args, report)`` returns
    the kept frame when ``enabled(args)``; ``dropped_key`` names a
    report key that receives input rows minus output rows."""

    enabled: Callable
    run: Callable
    dropped_key: str | None = None


# The join+aggregation stages that follow the row filters. Batch runs
# them on the filtered frame (SemDeDup later, on the split corpus after
# the index probe); the stream runs them post-drain over the corpus
# accumulated so far.
_POST_FILTER_STAGES = {
    "lm_filter": _Stage(lambda a: bool(a.lm_reference or a.lm_model), _lm_filter),
    "ngram_decontam": _Stage(lambda a: bool(a.decontam_ngrams), _ngram_decontam_filter),
    "decontam": _Stage(lambda a: bool(a.decontam_bench), _decontam_filter),
    "dsir": _Stage(lambda a: bool(a.dsir_target or a.dsir_model), _dsir_select),
    "semdedup": _Stage(
        lambda a: a.semdedup is not None, _semdedup_stage, "n_semdedup_dropped"
    ),
}
_BATCH_FILTER_ORDER = ("lm_filter", "ngram_decontam", "decontam", "dsir")
_BATCH_CORPUS_ORDER = ("semdedup",)
_STREAM_ORDER = ("lm_filter", "ngram_decontam", "decontam", "semdedup", "dsir")


def _run_stages(spark, df, args, report, order):
    """Run the enabled stages of ``order`` over ``df``: each output is
    cached for the run (later stages and writes re-read it) and counted
    once into ``report["n_after_<stage>"]``. A disabled stage leaves the
    frame and the report untouched. Stages are looked up in the module
    table at call time."""
    from solana_snapshot_etl_tools_spark.session import cache_for_session

    for name in order:
        stage = _POST_FILTER_STAGES[name]
        if not stage.enabled(args):
            continue
        n_in = df.count() if stage.dropped_key else None
        df = cache_for_session(stage.run(spark, df, args, report))
        n = report[f"n_after_{name}"] = df.count()
        if stage.dropped_key:
            report[stage.dropped_key] = n_in - n
    return df


def _ingest_stream_main(args) -> int:
    """--ingest-stream: the incremental-dedup ingestion loop
    (streaming/ingest.py) over every shard currently in the DOCS
    directory. The checkpoint under OUT_DIR/_checkpoint makes the
    command resumable: a re-run processes only shards that arrived
    since (replays are idempotent — see the module docstring)."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.functions import text as TXT
    from solana_snapshot_etl_tools_spark.session import (
        cache_for_session,
        get_spark,
        release_session_caches,
    )
    from solana_snapshot_etl_tools_spark.streaming.ingest import (
        ingest_dedup_stream,
    )

    spark = get_spark(app_name="corpus-ingest", cpus=args.cpus)
    report: dict[str, object] = {
        "input": args.docs,
        "out": args.out_dir,
        "mode": "ingest-stream",
    }
    raw = spark.read.parquet(args.docs)
    in_cols = ["doc_id", "text"]
    if args.source_blocklist:
        if "source" not in raw.columns:
            raise SystemExit(
                "--source-blocklist needs a 'source' column in DOCS"
            )
        in_cols.append("source")
    schema = raw.select(*in_cols).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one shard = one batch, so
        # the index loop closes between arrivals exactly like the
        # batch --dedup-against-index flow
        .parquet(args.docs)
        .select(*in_cols)
    )
    if args.source_blocklist:
        # stateless per-row predicate — runs unchanged on the stream,
        # like the cleaning tier below
        from solana_snapshot_etl_tools_spark.operators import (
            domains as DOM,
        )

        stream = DOM.source_blocklist_filter(
            stream, _read_lines(args.source_blocklist)
        ).select("doc_id", "text")
    # the SAME stateless cleaning tier as batch mode: every stage in it
    # is a pure column expression or a transform-only model, so it
    # runs unchanged on the stream — silently ignoring the flags here
    # would make --ingest-stream a trap
    stream = _clean_text(stream, args)
    if not args.no_pii:
        stream = stream.select(
            "doc_id", TXT.redact_pii(F.col("text")).alias("text")
        )
    stream = _row_filters(stream, args)
    q = ingest_dedup_stream(
        stream,
        args.index_out,
        f"{args.out_dir}/corpus",
        f"{args.out_dir}/_checkpoint",
        drop_near_candidates=args.drop_near_candidates,
        available_now=True,
    )
    q.awaitTermination()

    def read_count(path):
        # a run where NOTHING survived (all dups / all filtered)
        # leaves a schema-less directory — that is n=0, not a crash
        from pyspark.errors import AnalysisException

        try:
            return spark.read.parquet(path)
        except AnalysisException:
            return None

    corpus = read_count(f"{args.out_dir}/corpus")
    report["n_corpus"] = corpus.count() if corpus is not None else 0
    report["n_batches"] = (
        corpus.select("batch").distinct().count() if corpus is not None else 0
    )
    for key, sub in (("index_rows", "index"), ("signature_rows", "sigs")):
        df = read_count(f"{args.index_out}/{sub}")
        report[key] = df.count() if df is not None else 0
    if args.profile and corpus is not None:
        # incremental per-batch profile of the APPEND-ONLY store,
        # before any post-drain filter rewrites the view: each run
        # profiles only batches absent from the store (a partition-
        # pruned read — old batches are never rescanned), appends
        # their partials under batch=N dirs (dynamic overwrite, so
        # replays rewrite identically instead of duplicating), and
        # reports the merged estimates
        from solana_snapshot_etl_tools_spark.operators.profile import (
            corpus_profile,
            merge_profiles,
            profile_estimates,
        )

        pstore = f"{args.out_dir}/profile"
        fresh = _unlogged_batches(spark, corpus, pstore)
        if fresh.limit(1).count():
            _write_batches(spark, corpus_profile(
                fresh.select("doc_id", "text", "batch"), by="batch"
            ), pstore)
        # coverage guard (profile.stale_profile_batches — the
        # profile-store twin of the bloom sidecar's batch check):
        # partials for batches the corpus no longer contains (purged
        # arrivals, inherited store) would silently overcount the
        # merged estimates, so they are excluded from the merge and
        # surfaced — the report is merely narrowed, never wrong
        from solana_snapshot_etl_tools_spark.operators.profile import (
            stale_profile_batches,
        )

        stored_prof = spark.read.parquet(pstore)
        stale = stale_profile_batches(stored_prof, corpus)
        if stale:
            report["profile_store_stale_batches"] = stale
            stored_prof = stored_prof.filter(~F.col("batch").isin(stale))
        report["profile"] = profile_estimates(
            merge_profiles(stored_prof)
        ).collect()[0].asDict()
    if args.drift_reference and corpus is not None:
        # per-arrival drift monitor over the APPEND-ONLY store (same
        # incremental posture as the profile store: batches already in
        # the log are never rescanned; dynamic overwrite keeps replays
        # idempotent). The reference is a --drift-save artifact —
        # kilobytes, never the reference corpus itself.
        from solana_snapshot_etl_tools_spark.operators.drift import (
            drift_summary,
            feature_histograms,
            histogram_drift,
        )

        ref = spark.read.parquet(args.drift_reference)
        if not {"feature", "bin", "n"} <= set(ref.columns):
            raise SystemExit(
                "--drift-reference wants a --drift-save histogram "
                f"(feature, bin, n); got columns {ref.columns}"
            )
        dlog = f"{args.out_dir}/drift_log"
        fresh = _unlogged_batches(spark, corpus, dlog)
        feats = {
            r.feature for r in ref.select("feature").distinct().collect()
        }
        lang = "lang" if "lang" in feats and "lang" in fresh.columns else None
        ref_use = (
            ref.filter(F.col("feature") != "lang")
            if (lang is None and "lang" in feats)
            else ref
        )
        if fresh.limit(1).count():
            hists = feature_histograms(fresh, lang_col=lang, by=("batch",))
            _write_batches(spark, drift_summary(
                histogram_drift(ref_use, hists, by=("batch",)),
                by=("batch",),
            ), dlog)
        sev = {"stable": 0, "moderate": 1, "major": 2}
        worst: dict[str, dict] = {}
        for r in spark.read.parquet(dlog).collect():
            b = str(r.batch)
            cur = worst.get(b)
            if cur is None or sev[r.level] > sev[cur["worst_level"]] or (
                sev[r.level] == sev[cur["worst_level"]]
                and r.psi > cur["max_psi"]
            ):
                worst[b] = {
                    "worst_level": r.level,
                    "worst_feature": r.feature,
                    "max_psi": round(r.psi, 6),
                }
        report["drift_log"] = worst
    if args.discover_boilerplate is not None and corpus is not None:
        # measurement stage on the accumulated corpus, right before
        # the stream's own boilerplate stage (same frame posture as
        # batch: measure what the filter would see)
        _discover_boilerplate(corpus.select("doc_id", "text"), args, report)
    if args.boilerplate_min_df is not None and corpus is not None:
        # post-drain batch stage, FIRST among them (batch mode strips
        # boilerplate before everything downstream): line document
        # frequency is a GLOBAL distinct count, so the corpus
        # accumulated so far is rewritten as a DERIVED view — text
        # with corpus-frequent lines stripped — that the LM filter,
        # decontamination, DSIR, the split dirs and the data card all
        # see. The append-only state (OUT_DIR/corpus + the index)
        # stays keyed on the RAW arrival text: two pages differing
        # only in shared boilerplate therefore collapse via the index
        # only once their lines were already frequent at arrival time;
        # re-running the BATCH pipeline over the drained corpus gives
        # the batch ordering (strip before dedup) exactly.
        from solana_snapshot_etl_tools_spark.operators.paragraphs import (
            boilerplate_filter,
        )

        stripped = boilerplate_filter(corpus, args.boilerplate_min_df)
        report["n_boilerplate_lines_removed"] = int(
            stripped.agg(F.sum("n_removed_lines")).collect()[0][0] or 0
        )
        corpus = cache_for_session(
            stripped.drop("n_lines", "n_removed_lines")
        )
    if corpus is not None:
        # the join+aggregation stages cannot run as stateless row
        # filters INSIDE the stream, so they run post-drain as batch
        # stages over the corpus accumulated so far: every derived view
        # below (split dirs, data card, skew report) sees only their
        # kept subset, while the append-only state (OUT_DIR/corpus +
        # the index) stays whole
        corpus = _run_stages(spark, corpus, args, report, _STREAM_ORDER)
    if args.stratified_split and corpus is not None:
        # post-drain batch stage: the exact split is a VIEW over the
        # corpus accumulated SO FAR, rewritten whole each run (the
        # append-only state stays OUT_DIR/corpus + the index; split
        # dirs are derived). stratified_split is append-unstable by
        # contract — a rerun after more arrivals reassigns some rows,
        # exactly as its docstring warns; callers wanting stable
        # assignment use the batch pipeline's hash split.
        from solana_snapshot_etl_tools_spark.operators.sampling import (
            stratified_split,
        )

        resplit = stratified_split(
            corpus.select("doc_id", "text").withColumn(
                "_stratum", _text_stratum(args.stratified_split)
            ),
            "_stratum",
            train_pct=args.train_pct,
            val_pct=args.val_pct,
        ).drop("_stratum").persist()
        splits = {}
        for name in ("train", "val", "test"):
            part = resplit.filter(F.col("split") == name).drop("split")
            part.write.mode("overwrite").parquet(f"{args.out_dir}/{name}")
            splits[name] = {"rows": part.count()}
        report["split_mode"] = f"stratified:{args.stratified_split}"
        report["splits"] = splits
        resplit.unpersist()
    if args.data_card and corpus is not None:
        from solana_snapshot_etl_tools_spark.operators.report import (
            corpus_report,
        )

        report["data_card"] = corpus_report(corpus.select("doc_id", "text"))
    if args.skew_report and corpus is not None:
        _skew_report(corpus, args, report)
    release_session_caches()
    _emit_report(report, args.out_dir)
    return 0


def _unlogged_batches(spark, corpus, store):
    """The stream corpus's batches absent from the batch-partitioned
    ``store`` (profile store, drift log): a partition-listing read, so
    batches already logged are never rescanned."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    try:
        done = sorted({
            r.batch
            for r in spark.read.parquet(store).select("batch").distinct().collect()
        })
    except AnalysisException:
        return corpus
    return corpus.filter(~F.col("batch").isin(done)) if done else corpus


def _write_batches(spark, df, store):
    """Append per-batch rows under ``store``'s batch=N dirs with dynamic
    partition overwrite, so a replayed batch rewrites its own rows
    instead of duplicating them."""
    (
        df.repartition("batch")
        .write.partitionBy("batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(store)
    )
    spark.catalog.refreshByPath(store)


if __name__ == "__main__":
    sys.exit(main())
