"""spark-submit entry point — flag parity with pmOCR (F7-F10, S3).

pmOCR CLI (Usage, /root/reference/pmocr.sh:2296-2343): --batch/--service,
-p/--target=pdf, -t/--target=txt, -c/--target=csv, -k/--skip-txt-pdf,
-d/--delete-input, --suffix=, --no-suffix, --text=/--filename-addition=.
Mapped here onto the table-native equivalents.

Config-file source (S3) with CLI override (F10): `--config FILE` loads
key=value lines (or a JSON object) BEFORE argument parsing, mirroring
LoadConfigFile (pmocr.sh:685-715) — including its revision gate
(CONFIG_FILE_REVISION, pmocr.sh:692-698): a config whose
`config_revision` major differs from CONFIG_REVISION is rejected.
Explicit CLI flags win over config values, which win over built-in
defaults (the reference runs GetCommandlineArguments twice around
LoadConfigFile for the same effect, pmocr.sh:2409/2423).

Usage:
  spark-submit --py-files pmocr_spark.zip -m pmocr_spark.cli \\
      --batch --config job.conf --input DIR --blobs DIR --output DIR \\
      --lineage DIR --targets txt,csv --job-ts 2024-01-01T00:00:00Z
"""

from __future__ import annotations

import argparse
import json
from typing import Callable, NamedTuple

#: supported revision major of config files (LoadConfigFile analog)
CONFIG_REVISION = "1"

#: pmOCR's five output targets (pmocr.sh:2546-2593). docx/xlsx exist in
#: the reference but are ABBYY-engine-only (pmocr.sh:2571-2581,
#: default.conf:122-126); the tesseract-analog engine here rejects them
#: with a clear message rather than silently ignoring the flag.
SUPPORTED_TARGETS = ("txt", "csv", "pdf")
ABBYY_ONLY_TARGETS = ("docx", "xlsx")


def load_config(path: str) -> dict:
    """Parse a config file: JSON object, or pmOCR-style KEY=value lines
    (comments with '#', optional surrounding quotes on values)."""
    with open(path) as f:
        raw = f.read()
    stripped = raw.lstrip()
    if stripped.startswith("{"):
        # JSON keys get the SAME normalization as key=value files
        # ('span-join' -> 'span_join'); a JSON list value (natural for
        # e.g. targets) is joined to the comma form the CLI parses —
        # EXCEPT 'monitor', whose specs may themselves contain commas
        # (DIR=txt,csv): its list structure is preserved end-to-end so
        # no re-splitting heuristic is needed for JSON configs
        cfg = {}
        for k, v in json.loads(raw).items():
            k = k.strip().lower().replace("-", "_")
            if isinstance(v, (list, tuple)) and k != "monitor":
                v = ",".join(str(x) for x in v)
            cfg[k] = v
    else:
        cfg = {}
        for line in raw.splitlines():
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, v = line.split("=", 1)
            v = v.strip().strip("'\"")
            cfg[k.strip().lower().replace("-", "_")] = v
    rev = str(cfg.pop("config_revision", CONFIG_REVISION))
    if rev.split(".")[0] != CONFIG_REVISION:
        raise SystemExit(
            f"config revision {rev} unsupported (expected {CONFIG_REVISION}.x) — "
            "see pmOCR's CONFIG_FILE_REVISION gate (pmocr.sh:692-698)"
        )
    return cfg


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="pmocr-spark",
        formatter_class=argparse.RawDescriptionHelpFormatter,
        epilog="environment:\n"
        "  PMOCR_RELIABLE_CHECKPOINT=1  iterative work (the --train-bpe merge loop;\n"
        "      the connected-components, k-means and other iterative catalog\n"
        "      queries) checkpoints each round with DataFrame.checkpoint() into\n"
        "      sparkContext's checkpoint dir (HDFS/S3; survives executor loss)\n"
        "      instead of the default executor-local localCheckpoint().\n"
        "      Also accepts true/yes.",
    )
    p.add_argument("--config", help="config file (key=value or JSON); CLI wins")
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--batch", action="store_true", help="bounded batch run")
    mode.add_argument(
        "--service", action="store_true", help="streaming monitor mode (pmOCR --service)"
    )
    p.add_argument("--input", help="documents table / landing dir (parquet)")
    p.add_argument("--blobs", help="media_blobs table (parquet)")
    p.add_argument(
        "--raw",
        metavar="DIR",
        help="batch mode: ingest a RAW directory tree of media files "
        "(pmOCR's native input, `pmocr.sh --batch -c /some/path`) instead "
        "of --input/--blobs parquet tables — files are listed with the "
        "extension allow-list pushed into the scan (binaryFile "
        "pathGlobFilter; sources/binary.py) and lifted to one-span "
        "documents. Batch-only: Spark has no binaryFile streaming "
        "source, so service mode consumes parquet document drops.",
    )
    p.add_argument("--output", help="results table dir")
    p.add_argument("--lineage", help="checkpoint/lineage table dir")
    p.add_argument(
        "--targets",
        help="comma list of txt,csv,pdf (pmOCR default: pdf, pmocr.sh:2449-2451; "
        "ours: txt — all targets derive from one OCR pass either way)",
    )
    p.add_argument("--run-id")
    p.add_argument(
        "--job-ts",
        help="fixed job timestamp for output naming/lineage (never wall clock)",
    )
    p.add_argument(
        "--suffix",
        default=None,  # real default lives in _DEFAULTS (config must be able to override)
        help="output-name suffix (pmOCR --suffix=, default _OCR, pmocr.sh:2312-2315)",
    )
    p.add_argument(
        "--no-suffix",
        action="store_true",
        help="no output-name suffix (pmOCR --no-suffix)",
    )
    p.add_argument(
        "--filename-addition",
        help="output-name addition between stem and suffix (pmOCR --text=/"
        "--filename-addition=, pmocr.sh:2316-2321); default: _<job-ts>",
    )
    p.add_argument(
        "--delete-input",
        action="store_true",
        help="accepted for pmOCR flag parity (-d); a no-op here — input "
        "tables are immutable and the lineage anti-join already excludes "
        "processed docs (the table-native analog of deleting the input)",
    )
    p.add_argument(
        "-k",
        "--skip-txt-pdf",
        action="store_true",
        help="accepted for pmOCR flag parity (-k/--skip-txt-pdf, "
        "pmocr.sh:2352-2356 / CHECK_PDF in default.conf); a no-op here — "
        "the searchable-text bypass (F5) is ALWAYS on: text spans never "
        "enter the OCR path (pipeline.extract_spans routes them to JVM "
        "normalization), which is semantically stronger than the "
        "reference's optional pdffonts probe",
    )
    p.add_argument(
        "--metrics",
        help="per-partition skew report dir: writes checkpoint."
        "partition_metrics over the full lineage table — after each batch "
        "run, or after every epoch in service mode (per-monitor subdirs "
        "with --monitor). The north-rule observability story "
        "(docs/spans/errors per partition proves the salted repartition "
        "broke media-heavy-doc skew)",
    )
    p.add_argument(
        "--monitor",
        action="append",
        metavar="DIR=TARGETS",
        help="repeatable, service mode: per-dir monitor with its own target "
        "set — pmOCR runs one OCR_service subshell per configured dir, each "
        "hard-wired to one output format (W7, pmocr.sh:2519-2537). Each DIR "
        "gets an INDEPENDENT streaming query (own epoch clock, own "
        "exactly-once seen-map) sharing one SparkSession; its output/lineage/"
        "offsets/alerts land under <output>/<name>/ etc., where <name> is "
        "the dir basename. TARGETS is a comma list (txt,csv,pdf). With "
        "--monitor given, --input is not required. In a config file use a "
        "JSON list of specs or a ';'-separated string.",
    )
    p.add_argument(
        "--compact-lineage",
        action="store_true",
        help="batch mode: after the run, rewrite the lineage table to "
        "latest-row-per-doc (checkpoint.compact_checkpoint). Append-only "
        "lineage grows one row per doc per run; every resume re-scans "
        "it — compaction bounds it at one row per doc with identical "
        "resume/retry semantics. Run with no concurrent writer.",
    )
    p.add_argument(
        "--build-dedup-index",
        metavar="DIR",
        help="maintenance mode (standalone, like --compact-lineage): "
        "build the banded-MinHash dedup index over --input documents "
        "and persist it (with its params sidecar) at DIR "
        "(operators/dedup_index.build_index/write_index)",
    )
    p.add_argument(
        "--probe-dedup-index",
        metavar="DIR",
        help="maintenance mode: probe the --input batch against the "
        "persisted index at DIR (params from its sidecar) and write "
        "(doc_id, dup_of, n_bands) hits to --output",
    )
    p.add_argument(
        "--merge-dedup-index",
        metavar="DIR",
        help="maintenance mode: band the --input batch with the index's "
        "persisted params and merge it into DIR append-cheap (no "
        "O(index) cap pass — run --compact-dedup-index periodically)",
    )
    p.add_argument(
        "--compact-dedup-index",
        metavar="DIR",
        help="maintenance mode: re-apply the hot-bucket cap over the "
        "whole index at DIR (the periodic compaction that keeps "
        "steady-state merges cheap) and rewrite it in place",
    )
    p.add_argument(
        "--build-pq-index",
        metavar="DIR",
        help="maintenance mode: PQ-encode the --input embeddings table "
        "(vec_id, embedding) and persist codes + codebook sidecar at "
        "DIR (operators/pq.write_pq_index; 32x compression — the "
        "encode pass reads every raw vector ONCE, then searches probe "
        "the 8-byte codes)",
    )
    p.add_argument(
        "--append-pq-index",
        metavar="DIR",
        help="maintenance mode: encode the --input batch against the "
        "index's SIDECAR codebook and append its codes to DIR — "
        "per-vector codes are independent, so growth is pure append "
        "(no merge/compaction pass; vec_ids must be new)",
    )
    p.add_argument(
        "--probe-pq-index",
        metavar="DIR",
        help="maintenance mode: ADC top-k search of the --input query "
        "embeddings against the codes at DIR; writes (query_id, "
        "neighbor_id, rk, dist_int) to --output. Compressed-distance "
        "ranks only — pass --rerank-vectors to rerank the shortlist "
        "with exact cosine (the q21 production shape)",
    )
    p.add_argument(
        "--rerank-vectors",
        metavar="PATH",
        help="--probe-pq-index: raw embeddings table (the index stores "
        "codes only); the ADC shortlist is reranked by exact cosine "
        "over just these vectors and the output gains a cos_sim column",
    )
    p.add_argument(
        "--pq-topk",
        type=int,
        help="--probe-pq-index: neighbors per query (default 5 "
        "reranked; shortlist size without --rerank-vectors)",
    )
    p.add_argument(
        "--train-codebook",
        type=int,
        nargs="?",
        const=2,
        metavar="ITERS",
        help="--build-pq-index: refine the deterministic seed codebook "
        "with ITERS per-subspace Lloyd iterations (default 2) before "
        "encoding — the PQ recall lever (distortion drops ~25%% on the "
        "test corpus); the trained codebook persists in the sidecar, so "
        "appends and probes need no flag. At 10^12 vectors train on a "
        "sample of --input, not the full corpus",
    )
    p.add_argument(
        "--ivf-nprobe",
        type=int,
        help="--probe-pq-index: route each query to its N nearest IVF "
        "clusters and ADC-scan ONLY those codes (the FAISS IndexIVFPQ "
        "shape — pair count |queries| x probed clusters, not x corpus). "
        "THE recall/cost knob: higher N buys recall with more scanned "
        "codes (per-round curve in BENCH/BASELINE.md). Requires an "
        "index built by this version (--build-pq-index persists "
        "per-code cluster ids); omit for the exhaustive compressed scan",
    )
    p.add_argument(
        "--build-bloom-index",
        metavar="DIR",
        help="maintenance mode: build the Bloom membership pre-filter "
        "over the --input table's --bloom-key-col content hashes and "
        "persist set-bit positions + (m,k) geometry sidecar at DIR "
        "(operators/bloom; the cheap first tier of incremental dedup — "
        "probe answers 'definitely new' with zero shuffle)",
    )
    p.add_argument(
        "--append-bloom-index",
        metavar="DIR",
        help="maintenance mode: add the --input batch's positions to "
        "the filter at DIR (Bloom OR == pure append of position rows; "
        "geometry comes from the sidecar and a mismatch is refused). "
        "Run --compact-bloom-index periodically to drop duplicates",
    )
    p.add_argument(
        "--probe-bloom-index",
        metavar="DIR",
        help="maintenance mode: membership-test the --input batch "
        "against the filter at DIR; writes the input columns + (n_set, "
        "maybe_member) to --output. maybe_member=0 is definitive "
        "(no false negatives) — only the maybe rows need the exact "
        "--probe-dedup-index pass",
    )
    p.add_argument(
        "--compact-bloom-index",
        metavar="DIR",
        help="maintenance mode: rewrite the filter at DIR to distinct "
        "positions (appends accumulate duplicates; compaction makes "
        "the probe-side dedup free)",
    )
    p.add_argument(
        "--bloom-m",
        type=int,
        help="--build-bloom-index: filter bits (default 65536; size "
        "with m ~= 9.6n for 1%% FP at n expected members)",
    )
    p.add_argument(
        "--bloom-k",
        type=int,
        help="--build-bloom-index: hash functions (default 4; 7 pairs "
        "with the 1%% FP sizing)",
    )
    p.add_argument(
        "--bloom-key-col",
        metavar="COL",
        help="--{build,append,probe}-bloom-index: column whose md5 is "
        "the membership key (default text)",
    )
    p.add_argument(
        "--build-text-index",
        metavar="DIR",
        help="maintenance mode: build the persisted BM25 inverted index "
        "over the --input documents table at DIR (operators/bm25."
        "write_text_index: postings/dl/df subtables + stats sidecar)",
    )
    p.add_argument(
        "--append-text-index",
        metavar="DIR",
        help="maintenance mode: tokenize the --input batch with the "
        "index's sidecar params and append — postings/dl/df are "
        "additive over disjoint doc_id batches, so growth is pure "
        "append (no merge pass); sidecar stats accumulate",
    )
    p.add_argument(
        "--search-text",
        metavar="DIR",
        help="maintenance mode: BM25 top-k search of --query against "
        "the index at DIR; writes (query_id, doc_id, rk, score_u) "
        "to --output",
    )
    p.add_argument(
        "--query",
        help="--search-text: comma-separated queries, whitespace-"
        "separated terms (lowercased + deduplicated per query, the "
        "index tokenizer's normalization)",
    )
    p.add_argument(
        "--search-phrase",
        metavar="PHRASES",
        help="maintenance mode (standalone): exact-phrase retrieval "
        "(operators/bm25.phrase_search — positional postings, "
        "consecutive-token adjacency; the decontamination query) of "
        "comma-separated phrases against the --input documents table; "
        "writes (query_id, doc_id, n_matches, rk) to --output "
        "(query_id = phrase position in the list)",
    )
    p.add_argument(
        "--search-topk",
        type=int,
        help="--search-text / --search-phrase: results per query "
        "(default 5)",
    )
    p.add_argument(
        "--max-df",
        type=float,
        help="--search-text: drop query terms whose document frequency "
        "exceeds this fraction of the corpus (stop-term cap — bounds "
        "posting-list fan-out on hot terms)",
    )
    p.add_argument(
        "--compact-substr-index",
        metavar="DIR",
        help="maintenance mode: rewrite the cross-epoch gram index at "
        "DIR (--dedup-substrings-index) to distinct gram hashes — "
        "epochs append their gram sets verbatim, so periodic compaction "
        "reclaims the cross-epoch overlap. Stop the stream first: "
        "compacted rows read as epoch-less (visible to every epoch), so "
        "compacting under a live stream changes a replayed epoch's "
        "verdicts.",
    )
    p.add_argument(
        "--dedup-substrings",
        action="store_true",
        help="maintenance mode (standalone, like --compact-lineage): "
        "remove cross-document duplicated spans of >= K words from the "
        "--input documents table (exact substring dedup, keep-first "
        "policy; operators/substring_dedup.py) and write the cleaned "
        "table — text replaced, n_words/n_kept/n_removed appended — "
        "to --output",
    )
    p.add_argument(
        "--phash-dedup",
        action="store_true",
        help="maintenance mode (standalone): perceptual-hash visual "
        "near-dup over the --blobs image table — 64-bit pHash per blob, "
        "banded-hamming pair join (operators/multimodal.phash_near_dup) "
        "— writing (ref_a, ref_b, hamming) pairs to --output",
    )
    p.add_argument(
        "--transcribe-audio",
        action="store_true",
        help="maintenance mode (standalone): full audio decode over the "
        "--blobs table (operators/multimodal.audio_transcribe: synthetic "
        "codec with frame/parity validation; a real ASR engine slots "
        "into decode_audio_real) — writing (media_ref, text, "
        "sample_rate, duration_sec, error) to --output; corrupted blobs "
        "land in the error column, never fail the run",
    )
    p.add_argument(
        "--transcribe-video",
        action="store_true",
        help="maintenance mode (standalone): full video decode over the "
        "--blobs table (operators/multimodal.video_transcribe: per-frame "
        "OCR + held-scene collapse; a real captioning engine slots into "
        "decode_video_real) — writing (media_ref, text, fps, n_frames, "
        "duration_sec, error) to --output; corrupted blobs land in the "
        "error column, never fail the run",
    )
    p.add_argument(
        "--train-quality",
        action="store_true",
        help="maintenance mode (standalone): train the quality "
        "classifier (operators/quality_classifier.py — full-batch "
        "logistic regression, exact integer gradients) on the --input "
        "flat documents table and persist the model (weights + training "
        "standardization stats) to --output as a _lr_model.json sidecar",
    )
    p.add_argument(
        "--score-quality",
        metavar="MODELDIR",
        help="maintenance mode (standalone): score the --input flat "
        "documents table under a model trained by --train-quality — "
        "features standardize with the model's TRAINING stats (never "
        "recomputed), writing input columns + lr_quality + keep_quality "
        "to --output; one map-only pass, the model rides the plan as "
        "literals",
    )
    p.add_argument(
        "--extract-markdown",
        action="store_true",
        help="maintenance mode (standalone): structure-preserving "
        "extraction of the HTML blobs in the --blobs table "
        "(operators/html_extract.to_markdown + extract_tables) — "
        "writing (media_ref, markdown, tables, n_blocks, n_tables) to "
        "--output; non-HTML blobs are skipped by content magic "
        "(sniff_html), exactly like the fused pipeline's dispatch",
    )
    p.add_argument(
        "--word-boxes",
        action="store_true",
        help="maintenance mode (standalone): hOCR/TSV-style layout "
        "geometry for the image/pdf blobs in the --blobs table "
        "(codecs.recognize_words) — one row per recognized word "
        "(media_ref, line_no, word_no, word, x0, y0, x1, y1, error) "
        "written to --output; x comes from the image's decoded "
        "ink-column mask. Non-image blobs are skipped by content "
        "magic; undecodable image blobs land as error rows "
        "(tesseract's hocr/tsv output configs; the reference forwards "
        "engine layout containers untouched, pmocr.sh:1923-1963)",
    )
    p.add_argument(
        "--hocr",
        action="store_true",
        help="with --word-boxes: write one hOCR XHTML document per blob "
        "(media_ref, hocr, n_words, error) instead of per-word rows — "
        "the container tesseract's hocr config emits (codecs.to_hocr)",
    )
    p.add_argument(
        "--tables",
        action="store_true",
        help="with --word-boxes: geometric table reconstruction "
        "(codecs.detect_table — full-height >=2px whitespace channels "
        "as column separators, the csv hack's 2-space rule made "
        "layout-true): one row per cell (media_ref, row_no, col_no, "
        "cell, x0, y0, x1, y1, error)",
    )
    p.add_argument(
        "--layout",
        action="store_true",
        help="with --word-boxes: recursive XY-cut layout analysis "
        "(codecs.xy_cut — Nagy/Seth top-down page segmentation, "
        "tesseract --psm 1/3 analog): one row per reading-order block "
        "(media_ref, block_no, n_lines, text, error)",
    )
    p.add_argument(
        "--lsh-plan",
        metavar="N_HASHES,THRESHOLD[,FP_W[,FN_W]]",
        help="maintenance mode (standalone, no Spark session): print "
        "the best MinHash-LSH (bands, rows) factorization of an "
        "N_HASHES signature for a target Jaccard THRESHOLD as one JSON "
        "line (operators/lsh_plan.py — S-curve FP/FN area minimization, "
        "MMDS §3.4; FP_W/FN_W weight wasted-verification vs "
        "missed-duplicate cost, default 1,1). Size --dedup-index before "
        "building it",
    )
    p.add_argument(
        "--optimize-layout",
        metavar="COL_A,COL_B",
        help="maintenance mode (standalone): rewrite the --input table "
        "z-ordered on two numeric columns (operators/zorder.py — "
        "Morton bit-interleave of 8-bit min/max-scaled buckets, the "
        "Delta/Iceberg OPTIMIZE ZORDER BY move): one range shuffle, "
        "every output file covers a contiguous z-range, so parquet "
        "min/max stats prune later scans on EITHER column — partition "
        "pruning without physical partitioning",
    )
    p.add_argument(
        "--layout-files",
        type=int,
        help="--optimize-layout output file count (default 16)",
    )
    p.add_argument(
        "--compact-output",
        action="store_true",
        help="maintenance mode (standalone): compact a results "
        "directory's many small parquet files (service mode lands one "
        "small file set per micro-batch epoch — the classic streaming "
        "small-file problem) into ~--target-file-mb files: recursive "
        "read (epoch-*/ subdirs included), size-derived file count, "
        "hash-repartition + in-partition sort on the table's key "
        "column so the row->file assignment is deterministic",
    )
    p.add_argument(
        "--target-file-mb",
        type=int,
        help="--compact-output target file size in MB (default 128 — "
        "the parquet/HDFS block-sized sweet spot for scan parallelism)",
    )
    p.add_argument(
        "--input-format",
        choices=("parquet", "jsonl", "warc", "orc"),
        default="parquet",
        help="format of --input and --blobs in batch AND service modes "
        "(default parquet; jsonl reads web-pipeline interchange shards "
        "with EXPLICIT schemas — no inference scan — and base64 media "
        "payloads via sources/jsonl.py; service-mode landing dirs then "
        "take .jsonl drops; warc reads Web ARChive crawl shards from "
        "--input — documents AND blobs both derive from the records, "
        "--blobs is ignored; batch mode only, shards are the "
        "parallelism unit — sources/warc.py; orc reads Hive/ORC "
        "interchange tables via Spark's native vectorized reader — "
        "blobs stay ORC BINARY, no transcoding — and service landing "
        "dirs then take .orc drops with the same explicit schema)",
    )
    p.add_argument(
        "--output-format",
        choices=("parquet", "jsonl", "wet", "orc"),
        default="parquet",
        help="batch-mode results format (jsonl base64-encodes binary "
        "target columns so lines stay valid JSON; wet writes "
        "CommonCrawl-style extracted-text shards — gzip WARC conversion "
        "records of the done docs' txt target, sources/warc.write_wet; "
        "orc writes the results as Hive/ORC with binary targets as "
        "native ORC BINARY — composes with --partition-by; "
        "lineage still records every doc)",
    )
    p.add_argument(
        "--corpus-stats",
        action="store_true",
        help="maintenance mode (standalone): corpus datasheet over the "
        "--input documents table (operators/corpus_stats.py — sizes, "
        "approx token distribution, language mix, approx dup rate, "
        "top words; one cached scan + sketch aggregates) written as "
        "JSON to --output",
    )
    p.add_argument(
        "--audit-blobs",
        action="store_true",
        help="maintenance mode (standalone): ingest integrity audit of "
        "the --blobs table — detect each blob's container by MAGIC "
        "(PMIMG1/PMPDF1/PMAU/PMVI/html sniff) and compare against its "
        "declared kind column, writing the mismatch rows (media_ref, "
        "kind, detected) to --output and printing per-(kind, detected) "
        "counts; pure codegen head-byte expressions, no Python, no "
        "full-blob reads beyond the scan",
    )
    p.add_argument(
        "--fix-text",
        action="store_true",
        help="maintenance mode (standalone): OCR text repair over the "
        "--input table's --text-col column (functions.dehyphenate + "
        "functions.reflow: hyphenated line-break joins, hard-wrap "
        "reflow preserving blank-line paragraphs) — writes the table "
        "with the column repaired plus n_hyphens_repaired / "
        "n_breaks_reflowed counters; pure codegen regexps, map-only",
    )
    p.add_argument(
        "--text-col",
        default="text",
        help="column repaired by --fix-text / --spell-fix (default: "
        "text; use txt for batch-results tables)",
    )
    p.add_argument(
        "--keywords",
        metavar="K",
        type=int,
        help="maintenance mode (standalone): per-document tf-idf "
        "keyword extraction (operators/keywords.py) — the top-K most "
        "distinctive terms of every --input row's --text-col, scored "
        "round(1e6*tf*ln(N/df)) (integer micro-units, term-asc "
        "tie-break), written to --output as "
        "(doc_id, term, tf, df, score_micro, rank); with "
        "--keyword-method rake, top-K RAKE keyword PHRASES instead "
        "(Rose et al. 2010, operators/keywords.rake_topk) as "
        "(doc_id, phrase, score_u, rank)",
    )
    p.add_argument(
        "--keyword-method",
        choices=("tfidf", "rake"),
        help="scoring method for --keywords (default tfidf)",
    )
    p.add_argument(
        "--collocations",
        metavar="K",
        type=int,
        help="maintenance mode (standalone): top-K collocations of the "
        "--input table's --text-col by BOTH association statistics — "
        "PMI (Church & Hanks CL'90) and Dunning's log-likelihood ratio "
        "(CL'93), operators/corpus_stats.pmi_topk/llr_topk — written "
        "to --output as (method, bigram, cnt, score_micro)",
    )
    p.add_argument(
        "--colloc-min-count",
        metavar="N",
        type=int,
        help="minimum bigram count for --collocations (default 10; "
        "PMI is noisy on rare pairs)",
    )
    p.add_argument(
        "--kwic",
        metavar="TERM",
        help="maintenance mode (standalone): keyword-in-context "
        "concordance (operators/keywords.kwic) — every occurrence of "
        "TERM in the --input table's --text-col with --kwic-window "
        "tokens of context, written to --output as "
        "(doc_id, pos, left_ctx, term, right_ctx)",
    )
    p.add_argument(
        "--kwic-window",
        metavar="N",
        type=int,
        help="context window in tokens for --kwic (default 2)",
    )
    p.add_argument(
        "--srp-dedup",
        action="store_true",
        help="maintenance mode (standalone): SRP-LSH embedding near-dup "
        "(operators/multimodal.srp_near_dup — Charikar sign random "
        "projections + the banded-hamming join) over the --input "
        "table's (vec_id, embedding) columns; pairs written to "
        "--output as (ref_a, ref_b, hamming); --phash-max-hamming "
        "overrides the threshold (default 3, the pigeonhole-complete "
        "regime)",
    )
    p.add_argument(
        "--winnow-dedup",
        action="store_true",
        help="maintenance mode (standalone): winnowing fingerprint "
        "match candidates (operators/winnow — Schleimer SIGMOD'03 MOSS "
        "scheme: min-hash-per-window k-gram selection, then an fp "
        "equi-join) over the --input table's (doc_id, text) columns; "
        "pairs written to --output as (doc_a, doc_b, n_shared), "
        "fingerprints to --output.fps; --winnow-min-shared sets the "
        "pair floor (default 2)",
    )
    p.add_argument(
        "--winnow-min-shared",
        metavar="N",
        type=int,
        help="minimum shared distinct fingerprints for a --winnow-dedup "
        "pair (default 2)",
    )
    p.add_argument(
        "--snm-dedup",
        action="store_true",
        help="maintenance mode (standalone): sorted-neighborhood dedup "
        "(Hernández-Stolfo SIGMOD'95 merge/purge: ONE corpus sort on a "
        "first-3-token blocking key, in-window candidate pairs, exact "
        "shingle-Jaccard verify on candidates only) over the --input "
        "table's (doc_id, text); pairs to --output as (doc_a, doc_b, "
        "jaccard); --snm-window sets the window (default 4), "
        "--snm-min-jaccard the verify floor (default 0.05)",
    )
    p.add_argument(
        "--snm-window",
        metavar="W",
        type=int,
        help="sorted-neighborhood window size for --snm-dedup (default 4)",
    )
    p.add_argument(
        "--snm-min-jaccard",
        metavar="J",
        type=float,
        help="verified-Jaccard floor for --snm-dedup pairs (default 0.05)",
    )
    p.add_argument(
        "--snm-passes",
        metavar="N",
        type=int,
        choices=(1, 2),
        help="multi-pass sorted-neighborhood (Hernández-Stolfo's "
        "refinement): 1 = first-3-token blocking key only (default); "
        "2 = union candidates from an independent LAST-3-token pass, "
        "catching pairs whose corrupted prefix defeats the first sort",
    )
    p.add_argument(
        "--compress-postings",
        action="store_true",
        help="maintenance mode (standalone): write the --input table's "
        "(doc_id, text) inverted index as block-partitioned delta-gap + "
        "LEB128 varint payloads (operators/postings — the Lucene-family "
        "compressed posting layout): (term, block, n_postings, payload) "
        "rows to --output, with a decode round-trip count check and the "
        "compressed-vs-raw byte ratio printed",
    )
    p.add_argument(
        "--summarize",
        action="store_true",
        help="maintenance mode (standalone): TextRank extractive "
        "summarization (operators/textrank — Mihalcea EMNLP'04: "
        "per-doc sentence-similarity graph + damped power iterations) "
        "over the --input table's (doc_id, text) columns; top "
        "sentences written to --output as (doc_id, rank, sidx, "
        "sentence, score_u); --summary-k sets the summary size "
        "(default 2)",
    )
    p.add_argument(
        "--summary-k",
        metavar="K",
        type=int,
        help="sentences per document for --summarize (default 2)",
    )
    p.add_argument(
        "--spell-fix",
        action="store_true",
        help="maintenance mode (standalone): SymSpell dictionary "
        "correction (operators/spellfix.py) over the --input table's "
        "--text-col column — the dictionary is the corpus's OWN "
        "frequent vocabulary, corrections are rare words with an "
        "edit-distance-1 trusted neighbour; rewrites matching tokens "
        "(case-insensitive match, corrected form as learned) and adds "
        "an n_spellfixed counter. The correction map is rare-vocab-"
        "bounded (Heaps law) and ships to executors as a broadcast "
        "dict; the corpus is never shuffled",
    )
    p.add_argument(
        "--phash-max-hamming",
        type=int,
        help="--phash-dedup / --afp-dedup pair threshold (default 3 = "
        "the pigeonhole-complete regime; looser values are LSH "
        "best-effort)",
    )
    p.add_argument(
        "--afp-dedup",
        action="store_true",
        help="maintenance mode (standalone): acoustic-fingerprint audio "
        "near-dup over the --blobs audio table — 64-bit tone-density "
        "fingerprint per blob, banded-hamming pair join "
        "(operators/multimodal.audio_near_dup, same join machinery as "
        "--phash-dedup) — writing (ref_a, ref_b, hamming) pairs to "
        "--output; threshold via --phash-max-hamming",
    )
    p.add_argument(
        "--substr-k",
        type=int,
        help="--dedup-substrings gram width K (default 8): duplicated "
        "spans shorter than K words are not caught",
    )
    p.add_argument(
        "--train-bpe",
        type=int,
        metavar="N_MERGES",
        help="maintenance mode (standalone): learn up to N_MERGES BPE "
        "merges over the --input documents table (operators/bpe.py, "
        "distributed Sennrich '16) and persist the model dir to "
        "--output (merge table + params in a _bpe_model.json sidecar)",
    )
    p.add_argument(
        "--bpe-min-count",
        type=int,
        help="--train-bpe early-stop: stop when the best pair's count "
        "drops below this (default: operators/bpe.py DEFAULT_MIN_COUNT)",
    )
    p.add_argument(
        "--encode-bpe",
        metavar="MODEL_DIR",
        help="maintenance mode (standalone): tokenize the --input "
        "documents table with the BPE model at MODEL_DIR (from "
        "--train-bpe) and write it to --output with bpe_tokens + "
        "n_bpe_tokens columns appended (Arrow-batched encode UDF)",
    )
    p.add_argument(
        "--warc-cdx",
        action="store_true",
        help="maintenance mode (standalone): build the CDX random-"
        "access index (urlkey, ts, warc_file, offset, length, digest, "
        "content_type) over the WARC shard tree at --input and write "
        "it to --output — after this one sequential pass, selective "
        "re-fetches seek straight to records (sources/warc.warc_cdx + "
        "read_records_at)",
    )
    p.add_argument(
        "--extract-links",
        action="store_true",
        help="maintenance mode (standalone): extract the host-level "
        "link graph from the HTML blobs in --blobs "
        "(operators/linkgraph.edges_from_html — stdlib parser, "
        "content-magic dispatch) and write distinct (src, dst) edges "
        "to --output",
    )
    p.add_argument(
        "--eval-extraction",
        metavar="GOLD_PARQUET",
        help="maintenance mode (standalone): grade the --input table's "
        "--text-col column against the gold documents table at "
        "GOLD_PARQUET (doc_id, text) — token-level precision/recall/F1 "
        "plus character/word error rates (CER/WER, the ISRI OCR-eval "
        "metrics) in integer micro-units per doc "
        "(operators/extraction_eval.py; the graded form of pmOCR's "
        "exact-fixture tests) written to --output, corpus micro+macro "
        "averages printed",
    )
    p.add_argument(
        "--robots-filter",
        metavar="ROBOTS_PARQUET",
        help="maintenance mode (standalone): RFC 9309 robots.txt URL "
        "admission (operators/robots.py) — evaluate every (host, path) "
        "row of the --input table (a single 'url' column is split "
        "automatically) against the robots.txt blob table at "
        "ROBOTS_PARQUET (columns host, content), longest-match / "
        "allow-wins-tie / default-allow semantics, and write the input "
        "plus an 'allowed' 0/1 column to --output; --robots-agent "
        "picks the user-agent group (default *)",
    )
    p.add_argument(
        "--robots-agent",
        help="--robots-filter user-agent product token (default *)",
    )
    p.add_argument(
        "--pagerank",
        action="store_true",
        help="maintenance mode (standalone): integer micro-unit "
        "PageRank over the (src, dst) edges table at --input "
        "(operators/linkgraph.pagerank — the host-level quality prior "
        "crawl pipelines publish); writes (node, rank_u, out_degree) "
        "to --output",
    )
    p.add_argument(
        "--pr-iters",
        type=int,
        help="--pagerank iterations (default 10)",
    )
    p.add_argument(
        "--train-unigram",
        type=int,
        metavar="VOCAB_SIZE",
        help="maintenance mode (standalone): train a unigram-LM "
        "tokenizer (Kudo ACL'18, the SentencePiece algorithm) of "
        "VOCAB_SIZE pieces over the --input documents table "
        "(operators/unigram_lm.py) and persist the model dir to "
        "--output (piece table + params in a _unigram_model.json "
        "sidecar)",
    )
    p.add_argument(
        "--encode-unigram",
        metavar="MODEL_DIR",
        help="maintenance mode (standalone): Viterbi-tokenize the "
        "--input documents table with the unigram model at MODEL_DIR "
        "(from --train-unigram) and write it to --output with "
        "uni_tokens + n_uni_tokens columns appended",
    )
    p.add_argument(
        "--probe-broadcast",
        choices=("auto", "force"),
        help="--probe-dedup-index join strategy: 'auto' (default; no "
        "hint — AQE broadcasts iff the batch is actually small) or "
        "'force' (hint the broadcast; only for batches KNOWN to fit "
        "executor memory)",
    )
    p.add_argument(
        "--once",
        action="store_true",
        help="service mode: run ONE Trigger.AvailableNow reconciliation "
        "pass over everything currently in the landing dir(s) and exit, "
        "instead of the resident 30s poller — pmOCR's forced periodic "
        "run (W4: MAX_WAIT/MAX_TIME, pmocr.sh:24-26, 2269). Schedule it "
        "from cron against the same --stream-checkpoint and it picks up "
        "exactly the files the resident monitor has not seen.",
    )
    p.add_argument(
        "--engine",
        help="OCR engine adapter (pmOCR OCR_ENGINE, pmocr.sh:1825-1852): "
        "'codec' (default; the deterministic synthetic codec — the only "
        "oracle-checkable engine) or 'tesseract' (real OCR via "
        "pytesseract+Pillow; requires them plus the tesseract binary on "
        "every executor). A comma-separated chain ('tesseract,codec') "
        "falls back per blob: first engine that decodes wins, all "
        "failing yields one error row naming each engine's failure. "
        "Additional engines via engines.register_engine().",
    )
    p.add_argument(
        "--dedup-index",
        metavar="DIR",
        help="service mode: cross-epoch near-dup suppression — each "
        "epoch's extracted docs are probed against the persisted "
        "banded-MinHash index at DIR (built up epoch by epoch, "
        "replay-idempotent); near-dup docs get a non-null dup_of column "
        "in the epoch output. Per-monitor subdirs with --monitor. "
        "Compact periodically with --compact-dedup-index DIR.",
    )
    p.add_argument(
        "--dedup-substrings-index",
        metavar="DIR",
        help="service mode: cross-epoch substring dedup — each epoch's "
        "extracted txt is stripped of duplicated >= k-word spans, both "
        "within the batch and against the persisted gram index at DIR "
        "(built up epoch by epoch, replay-idempotent; gram width "
        "recorded in its sidecar); the epoch output gains "
        "txt_clean/words_removed columns. Per-monitor subdirs with "
        "--monitor. Batch corpora use the standalone --dedup-substrings.",
    )
    p.add_argument("--alerts", help="alert table dir (S7; service mode)")
    p.add_argument("--stream-checkpoint", help="streaming offsets dir (service)")
    p.add_argument("--master", help="override spark master (default from env)")
    p.add_argument("--num-partitions", type=int)
    p.add_argument(
        "--partition-by",
        help="comma-separated result columns to Hive-partition the batch "
        "results sink by (e.g. --partition-by status): failed docs land "
        "in their own status=failed/ subdirectory (the S6 quarantine "
        "layout as a physical sink layout) and downstream scans prune "
        "whole partitions instead of filtering rows — the layout knob a "
        "10^12-doc results table needs",
    )
    p.add_argument(
        "--span-join",
        choices=("broadcast", "shuffle"),
        help="media-span/blob join strategy: 'broadcast' (default) keeps "
        "blob bytes in place and broadcasts the span side — right while "
        "the per-batch span set fits a broadcast; 'shuffle' is the "
        "full-corpus path (salted span repartition + shuffle join, pair "
        "with media_ref-bucketed tables to remove even that exchange)",
    )
    return p


#: built-in defaults, applied below config and CLI (lowest precedence).
#: NOTE: every argparse option that appears here must keep argparse's None
#: default in build_parser — a truthy argparse default would mask config
#: values.
_DEFAULTS = {
    "targets": "txt",
    "run_id": "run-0",
    "job_ts": "2024-01-01T00:00:00Z",
    "span_join": "broadcast",
    "suffix": "_OCR",
    "engine": "codec",
}


def _coerce_config_types(parser: argparse.ArgumentParser, cfg: dict) -> dict:
    """Config files carry strings; coerce each value to its flag's type —
    store_true flags get bool parsing ('no_suffix=false' must NOT become
    the truthy string 'false'), typed options (e.g. --num-partitions
    int) get their argparse `type` applied."""
    by_dest = {a.dest: a for a in parser._actions}
    out = {}
    for k, v in cfg.items():
        a = by_dest[k]
        if isinstance(a.const, bool) or isinstance(a.default, bool):
            out[k] = v if isinstance(v, bool) else str(v).lower() in ("1", "true", "yes")
        elif a.type is not None and isinstance(v, str):
            out[k] = a.type(v)
        else:
            out[k] = v
    return out


def _parse_monitor_specs(value) -> list[tuple[str, str]]:
    """Normalize --monitor values to [(dir, targets_csv)].

    CLI gives a list of 'DIR=t1,t2' strings (action=append); JSON configs
    give a list that load_config preserves as-is — in both, each item is
    exactly ONE spec, split on the FIRST '=' only, so commas (and
    further '='s) in paths or target lists are safe. key=value configs
    give one string of ';'-separated specs; for robustness a
    comma-joined blob like 'd1=txt,csv,d2=pdf' also re-splits correctly
    there: tokens WITHOUT '=' belong to the previous spec's target list
    (only in the string form does a '='-in-path need quoting as a JSON
    list instead)."""
    if isinstance(value, (list, tuple)):
        pieces = [str(v) for v in value]
    else:
        pieces = []
        for part in str(value).split(";"):
            for tok in part.split(","):
                tok = tok.strip()
                if not tok:
                    continue
                if "=" in tok or not pieces:
                    pieces.append(tok)
                else:
                    pieces[-1] += "," + tok
    specs = []
    for piece in pieces:
        piece = piece.strip()
        if "=" not in piece:
            raise ValueError(f"monitor spec {piece!r} is not DIR=TARGETS")
        d, _, tgts = piece.partition("=")
        specs.append((d.strip(), tgts.strip()))
    return specs


# ---------------------------------------------------------------- mode table
#
# Every CLI mode is one Mode entry in MODES; parse_args and main drive
# them all with the same code. A new mode is a run function plus one
# entry: its trigger flag, the knobs it owns, the paths it needs, the
# columns its input must carry and its range checks.

#: Mode.cols placeholder for the column named by --text-col
TEXT = "--text-col"


class Mode(NamedTuple):
    """One CLI mode: its trigger flag, its contract, and its run.

    run(spark, args, table) gets `table` = the `reads` path read as
    parquet (None without `reads`) and returns the summary line, None,
    or (DataFrame, summary): the driver then overwrites --output with
    the DataFrame as parquet and summary(re-read output) gives the line.
    Knobs in `owns` are rejected whenever another mode runs."""

    flag: str
    run: Callable
    needs: tuple = ()  # dests that must be set
    reads: str | None = None  # path dest read as the run's input table
    cols: tuple = ()  # columns the input table must carry
    owns: tuple = ()  # knob dests that apply to this mode only
    checks: tuple = ()  # (ok(args), message) range checks
    session: bool = True  # False: run gets spark=None, no JVM starts
    prepare: Callable | None = None  # prepare(parser, args): extra validation

    @property
    def dest(self) -> str:
        return self.flag[2:].replace("-", "_")


def _flag(dest: str) -> str:
    return "--" + dest.replace("_", "-")


def _at_least(dest: str, lo, what: str = ""):
    return (
        lambda a: getattr(a, dest) is None or getattr(a, dest) >= lo,
        f"{_flag(dest)}{what} must be >= {lo}",
    )


def _within(dest: str, lo, hi):
    return (
        lambda a: getattr(a, dest) is None or lo <= getattr(a, dest) <= hi,
        f"{_flag(dest)} must be in [{lo}, {hi}]",
    )


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Three-layer precedence: built-in defaults < config file < CLI.
    Then the mode table's contract: exactly one mode, no knob outside
    the modes that own it, required paths, range checks."""
    parser = build_parser()
    args = parser.parse_args(argv)
    layered = dict(_DEFAULTS)
    if args.config:
        cfg = load_config(args.config)
        unknown = set(cfg) - {a.dest for a in parser._actions}
        if unknown:
            parser.error(f"unknown config keys: {sorted(unknown)}")
        # a mode given on the CLI overrides the config's mode entirely
        if args.batch or args.service:
            cfg.pop("batch", None)
            cfg.pop("service", None)
        # same for the input-source choice: --raw on the CLI displaces a
        # config's input/blobs (and vice versa) instead of colliding
        if args.raw:
            cfg.pop("input", None)
            cfg.pop("blobs", None)
        if args.input or args.blobs:
            cfg.pop("raw", None)
        layered.update(_coerce_config_types(parser, cfg))
    # an option is "unset on the CLI" when it is None — except store_true
    # flags, whose unset state is False. Testing `in (None, False)` for
    # everything would treat an EXPLICIT falsy value (--num-partitions 0)
    # as unset because 0 == False.
    flag_dests = {
        a.dest for a in parser._actions if isinstance(a.const, bool) or isinstance(a.default, bool)
    }
    for k, v in layered.items():
        cur = getattr(args, k)
        if cur is None or (k in flag_dests and cur is False):
            setattr(args, k, v)
    # "set" = differs from the built-in default, from the CLI or a config
    default = {a.dest: a.default for a in parser._actions} | _DEFAULTS

    def is_set(dest: str) -> bool:
        return getattr(args, dest) != default[dest]

    on = [m for m in MODES if is_set(m.dest)]
    # a trigger that another active mode owns is that mode's knob
    # (--batch --compact-lineage compacts after the run)
    on = [m for m in on if not any(m.dest in o.owns for o in on)]
    if len(on) > 1:
        parser.error(
            f"{' and '.join(m.flag for m in on)} are separate modes "
            "(maintenance modes run standalone, without --batch/--service)"
        )
    mode = on[0] if on else None
    # a knob set outside every mode that owns it is an error, never
    # silently dropped (also when no mode is given at all)
    for a in parser._actions:
        owners = [m.flag for m in MODES if a.dest in m.owns]
        if owners and is_set(a.dest) and (mode is None or a.dest not in (mode.dest, *mode.owns)):
            parser.error(f"{_flag(a.dest)} only applies to {'/'.join(owners)}")
    if mode is None:
        parser.error("one of --batch / --service is required (flag or config)")
    if any(not getattr(args, d) for d in mode.needs):
        parser.error(
            f"{' and '.join(map(_flag, mode.needs))} "
            f"{'is' if len(mode.needs) == 1 else 'are'} required with {mode.flag}"
        )
    for ok, msg in mode.checks:
        if not ok(args):
            parser.error(msg)
    args.mode, args.target_list, args.monitor_list = mode, [], []
    # --compact-lineage alone (no --batch/--service) is the standalone
    # compaction of a STOPPED stream's lineage, not the batch knob
    args.compact_only = args.compact_lineage and not (args.batch or args.service)
    if mode.prepare:
        mode.prepare(parser, args)
    return args


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    mode = args.mode
    spark = table = None
    if mode.session:
        from .session import get_spark

        spark = get_spark(app="pmocr_spark_job", master=args.master)
    if mode.reads:
        path = getattr(args, mode.reads)
        table = spark.read.parquet(path)
        want = [args.text_col if c == TEXT else c for c in mode.cols]
        if any(c not in table.columns for c in want):
            hint = "; --text-col overrides" if TEXT in mode.cols else ""
            raise SystemExit(
                f"pmocr-spark: {mode.flag}: {path} needs ({', '.join(want)}) "
                f"columns (columns: {table.columns}{hint})"
            )
    res = mode.run(spark, args, table)
    if isinstance(res, tuple):
        out, summary = res
        out.write.mode("overwrite").parquet(args.output)
        res = summary(spark.read.parquet(args.output))
    if res:
        print(f"pmocr-spark: {res}")


# ---------------------------------------------------------------- --batch / --service


def _check_pipeline(parser: argparse.ArgumentParser, args: argparse.Namespace) -> None:
    """--batch/--service: input source, required paths, target lists."""
    if args.raw and (args.input or args.blobs):
        parser.error("--raw replaces --input/--blobs; give one or the other")
    # per-dir monitors carry their own input dirs; --raw carries its own
    # input tree and derives blobs from it
    if args.monitor or args.raw:
        required = ("blobs", "output", "lineage") if args.monitor else ("output", "lineage")
    elif args.input_format == "warc":
        # warc shards carry documents AND media payloads in one stream
        required = ("input", "output", "lineage")
    else:
        required = ("input", "blobs", "output", "lineage")
    for req in required:
        if not getattr(args, req):
            parser.error(f"--{req} is required (flag or config)")

    def validate_targets(csv: str) -> list[str]:
        targets = [t.strip() for t in str(csv).split(",") if t.strip()]
        for t in targets:
            if t in ABBYY_ONLY_TARGETS:
                parser.error(
                    f"target '{t}' requires the ABBYY engine in the reference "
                    "(pmocr.sh:2571-2581, default.conf:122-126) and has no "
                    f"tesseract-analog here; supported: {','.join(SUPPORTED_TARGETS)}"
                )
            if t not in SUPPORTED_TARGETS:
                parser.error(f"unknown target '{t}'; supported: {','.join(SUPPORTED_TARGETS)}")
        return targets

    args.target_list = validate_targets(args.targets)
    if args.monitor:
        import os

        try:
            specs = _parse_monitor_specs(args.monitor)
        except ValueError as e:
            parser.error(str(e))
        names: list[str] = []
        for d, tgts in specs:
            base = os.path.basename(os.path.normpath(d)) or "root"
            # uniquify until free: a single suffix attempt could still
            # collide with an explicit basename like 'x-2'
            name, i = base, 1
            while name in names:
                name = f"{base}-{i}"
                i += 1
            names.append(name)
            args.monitor_list.append((name, d, validate_targets(tgts)))


def _pipeline_basics(args):
    """(ocr_udf, job_ts, suffix) of a --batch/--service run. The engine
    resolves before any Spark job: a missing tesseract install (or an
    unknown name) fails fast at the CLI, not deep in an executor task.
    'codec' resolves to None = the env-driven default UDF instance
    (identical behavior/plan to pre---engine builds)."""
    ocr_udf = None
    if args.engine != "codec":
        from . import engines

        ocr_udf = engines.ocr_udf_for(args.engine)
    job_ts = args.job_ts.replace("T", " ").replace("Z", "")
    return ocr_udf, job_ts, "" if args.no_suffix else args.suffix


def launch_monitors(spark, args, blobs, job_ts: str, suffix: str, trigger: dict, ocr_udf=None):
    """Start every service-mode streaming query; returns [(name, query)].

    W7 parity (pmOCR spawns one OCR_service subshell per configured dir,
    each hard-wired to one target format, pmocr.sh:2519-2537): with
    --monitor specs, each dir becomes an INDEPENDENT streaming query in
    the shared SparkSession — its own file-source seen-map, epoch clock,
    and exactly-once lineage — with output/offsets/lineage/alerts
    namespaced per monitor name under the corresponding base dirs.
    Without --monitor, the single --input dir is one query over the base
    dirs directly (unchanged layout)."""
    from . import streaming

    specs = args.monitor_list or [(None, args.input, args.target_list)]
    ckpt_base = args.stream_checkpoint or args.lineage + "_offsets"
    queries = []
    for name, input_dir, tgts in specs:
        sub = (lambda base: f"{base}/{name}") if name is not None else (lambda base: base)
        q = streaming.monitor(
            spark,
            input_dir,
            blobs,
            sub(args.output),
            sub(ckpt_base),
            sub(args.lineage),
            run_id=f"{args.run_id}-{name}" if name is not None else args.run_id,
            job_ts=job_ts,
            trigger=trigger,
            alerts_dir=sub(args.alerts) if args.alerts else None,
            metrics_dir=sub(args.metrics) if args.metrics else None,
            targets=tgts,
            suffix=suffix,
            filename_addition=args.filename_addition,
            broadcast_spans=(args.span_join != "shuffle"),
            num_partitions=args.num_partitions,
            ocr_udf=ocr_udf,
            input_format=args.input_format,
            dedup_index_dir=sub(args.dedup_index) if args.dedup_index else None,
            substr_index_dir=(
                sub(args.dedup_substrings_index)
                if args.dedup_substrings_index
                else None
            ),
        )
        queries.append((name, q))
    return queries


def _run_service(spark, args, _) -> None:
    ocr_udf, job_ts, suffix = _pipeline_basics(args)
    if args.input_format == "warc":
        # the streaming file source has no whole-file binary format;
        # crawl shards are a bounded-batch input by nature (a crawl
        # is finished before it ships) — loud error over silent
        # misread, the engines.py missing-dependency discipline
        raise SystemExit(
            "pmocr-spark: --input-format warc is batch-only; "
            "run batch mode over the shard directory"
        )
    if args.input_format == "jsonl":
        from .sources.jsonl import read_blobs_jsonl

        blobs = read_blobs_jsonl(spark, args.blobs)
    else:  # parquet / orc
        blobs = spark.read.format(args.input_format).load(args.blobs)
    # default: poller interval parity (INOTIFY_POLLER_INTERVAL,
    # default.conf:33); --once: W4 reconciliation pass that drains
    # the landing dir(s) and terminates
    trigger = {"availableNow": True} if args.once else {"processingTime": "30 seconds"}
    queries = launch_monitors(
        spark, args, blobs, job_ts, suffix, trigger=trigger, ocr_udf=ocr_udf
    )
    # all queries run concurrently; blocking on each in turn = block
    # until every monitor stops (pmOCR parks in its sleep loop while
    # the per-dir OCR_service subshells run, pmocr.sh:2540-2544)
    for _name, q in queries:
        q.awaitTermination()


def _run_batch(spark, args, _) -> None:
    from datetime import datetime

    from pyspark.sql import functions as F

    from . import checkpoint as ckpt
    from . import pipeline

    ocr_udf, job_ts, suffix = _pipeline_basics(args)
    if args.raw:
        from .sources.binary import lift_to_documents, read_media_dir

        blobs = read_media_dir(spark, args.raw)
        docs = lift_to_documents(blobs)
    elif args.input_format == "warc":
        from .sources.warc import read_warc_records, warc_to_documents

        docs, blobs = warc_to_documents(read_warc_records(spark, args.input))
    elif args.input_format == "jsonl":
        from .sources.jsonl import read_blobs_jsonl, read_documents_jsonl

        docs = read_documents_jsonl(spark, args.input)
        blobs = read_blobs_jsonl(spark, args.blobs)
    else:  # parquet / orc
        docs = spark.read.format(args.input_format).load(args.input)
        blobs = spark.read.format(args.input_format).load(args.blobs)
    lineage = ckpt.read_checkpoint(spark, args.lineage)
    if lineage is not None:
        # one scan for the warning + resume filter + retry-count lookup
        lineage = lineage.persist()
        # P2 retry runs on the deterministic job clock: if --job-ts does
        # not advance past the last run's, failed docs stay postponed
        # forever and retry-with-postponement silently never fires
        import sys

        last = lineage.agg(F.max("ts").alias("t")).collect()[0]["t"]
        try:
            job_dt = datetime.fromisoformat(job_ts)
        except ValueError:
            job_dt = None  # odd-but-castable format: skip the advisory
        if last is not None and job_dt is not None and job_dt <= last:
            print(
                f"pmocr-spark: warning: --job-ts {job_ts!r} does not advance "
                f"past the lineage's last run ({last}); failed docs remain "
                "postponed — pass a later --job-ts to retry them",
                file=sys.stderr,
            )
    results = pipeline.run_batch(
        spark,
        docs,
        blobs,
        checkpoint=lineage,
        num_partitions=args.num_partitions,
        broadcast_spans=(args.span_join != "shuffle"),
        job_ts=job_ts,
        ocr_udf=ocr_udf,
    )
    cached = results.persist()
    # F7 output-name projection + Q1 multi-target fan-out (doc_id is
    # unique, so F8 collision resolution is a no-op here; q06 exercises
    # the windowed variant)
    out = pipeline.project_targets(
        cached, args.target_list, job_ts, suffix=suffix, addition=args.filename_addition
    )
    pcols = []
    if args.partition_by:
        pcols = [c.strip() for c in args.partition_by.split(",") if c.strip()]
        missing = [c for c in pcols if c not in out.columns]
        if missing:
            raise SystemExit(
                f"pmocr-spark: error: --partition-by column(s) {missing} not in "
                f"the results table; available: {', '.join(out.columns)}"
            )
    if args.output_format == "wet":
        from .sources.warc import write_wet

        if pcols:
            raise SystemExit(
                "pmocr-spark: --partition-by does not compose with "
                "--output-format wet (shard layout is the format)"
            )
        if "txt" not in out.columns:
            raise SystemExit(
                "pmocr-spark: --output-format wet needs the txt target; "
                "add txt to --targets"
            )
        # WET is the extracted-text artifact: done docs only (failures
        # and skips live in lineage, exactly like CommonCrawl's WET
        # files carry successful conversions only)
        write_wet(out.filter(F.col("status") == "done"), args.output, job_ts=job_ts)
    elif args.output_format == "jsonl":
        from .sources.jsonl import write_jsonl

        write_jsonl(out, args.output, partition_by=pcols or None)
    else:
        writer = out.write.mode("append")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.format(args.output_format).save(args.output)  # parquet / orc
    rows = ckpt.checkpoint_rows(cached, run_id=args.run_id, job_ts=job_ts, prior=lineage)
    ckpt.append_checkpoint(rows, args.lineage)
    cached.unpersist()
    if lineage is not None:
        lineage.unpersist()
    if args.metrics:
        # re-read AFTER the append so the report covers this run too;
        # overwrite — the report is a derived view of the lineage table
        full = ckpt.read_checkpoint(spark, args.lineage)
        ckpt.partition_metrics(full).write.mode("overwrite").parquet(args.metrics)
    if args.compact_lineage:
        # after metrics: the per-run partition report needs the full
        # history; compaction keeps only each doc's winning row
        ckpt.compact_checkpoint(spark, args.lineage)


# ---------------------------------------------------------------- index lifecycles


def _compact_lineage(spark, args, _):
    from . import checkpoint as ckpt

    n = ckpt.compact_checkpoint(spark, args.lineage)
    return f"compacted lineage at {args.lineage} to {n} rows"


# Dedup-index lifecycle maintenance (round-3 verdict item #4): the
# persisted-index recipe from operators/dedup_index's module docstring
# as CLI modes. build writes index+sidecar; probe/merge band the new
# batch with the SIDECAR's params (never the defaults — a mismatched
# banding silently finds nothing, which probe_index now rejects); merge
# is append-cheap (apply_cap=False); compact runs the periodic
# hot-bucket cap. merge/compact rewrite the index dir via
# checkpoint.replace_dir (write-aside + rename; atomic on rename-atomic
# filesystems) and restore the params sidecar the swap discarded.
#
# Cap discipline: the hot-bucket cap is a POLICY (recorded in the
# sidecar), never applied to rows the index STORES — build and merge
# write uncapped band rows, compact enforces the cap, and probe caps its
# view of the index transiently. Capping stored rows per batch drops
# them irreversibly, so a later compaction would disagree with a
# one-shot build over the union of all batches (the parity
# tests/test_dedup_index.py and test_cli.py pin).


def _build_dedup_index(spark, args, docs):
    from .operators import dedup_index as di

    # uncapped rows on disk (see cap discipline above); the sidecar
    # written by write_index records the default cap as the policy
    di.write_index(di.build_index(docs, max_bucket=None), args.build_dedup_index)
    return f"built dedup index at {args.build_dedup_index}"


def _probe_dedup_index(spark, args, docs):
    from .operators import dedup_index as di

    index, params = di.read_index(spark, args.probe_dedup_index)
    # transient capped VIEW of the index: protects the join from hot
    # buckets even when no compaction has run yet, and makes probe hits
    # identical to probing a freshly compacted index. The PROBE side
    # bands stay uncapped (max_bucket=None): capping them would silently
    # skip checking a flood batch's docs against the index — the
    # service-mode hook's exact semantics.
    hits = di.probe_index(
        docs,
        di.cap_index(index, params["max_bucket"]),
        broadcast_probe=(args.probe_broadcast == "force") or None,
        index_params=params,
        max_bucket=None,
        n_hashes=params["n_hashes"],
        band_size=params["band_size"],
    )
    return hits, lambda _: f"probe hits written to {args.output}"


def _rewrite_dedup_index(spark, idx_dir: str, op: str, rewrite) -> str:
    """merge/compact: rewrite(index, params) -> the new index rows, which
    replace the dir; the params sidecar is restored after the swap."""
    from . import checkpoint as ckpt
    from .operators import dedup_index as di

    index, params = di.read_index(spark, idx_dir)
    if params.get("source") == "defaults":
        # refuse to LAUNDER guessed params into an authoritative sidecar:
        # write_meta below strips the 'source' marker, so a merge/compact
        # over a sidecar-less index would record the defaults as the
        # build's geometry and every later probe's mismatch guard would
        # pass vacuously (probing an 8/2-banded index with 12/3 finds
        # nothing, silently). probe still works — its range fallback
        # runs for defaults-sourced params.
        raise SystemExit(
            f"pmocr-spark: index at {idx_dir} has no params sidecar; "
            f"--{op}-dedup-index would record the guessed defaults as its "
            "build geometry. Restore the sidecar (dedup_index.write_meta "
            "with the build's n_hashes/band_size/max_bucket) or rebuild "
            "the index."
        )
    merged = rewrite(index, params).persist()
    n = merged.count()  # materialize before replacing the dir it reads
    ckpt.replace_dir(spark, merged, idx_dir, tag=".dedup")
    merged.unpersist()
    di.write_meta(spark, idx_dir, params)
    return f"{op} rewrote dedup index at {idx_dir} ({n} rows)"


def _merge_dedup_index(spark, args, docs):
    from .operators import dedup_index as di

    # no per-batch cap (max_bucket=None): capping a single batch at merge
    # time drops rows IRREVERSIBLY, so a later compaction sees a smaller
    # bucket than a one-shot build over the union would — the
    # deferred-cap design puts the cap ONLY in the compaction pass
    # (tests/test_dedup_index.py pins maintained == one-shot)
    def merge(index, params):
        geometry = {k: params[k] for k in ("n_hashes", "band_size")}
        new_bands = di.build_index(docs, max_bucket=None, **geometry)
        return di.merge_index(index, new_bands, apply_cap=False)

    return _rewrite_dedup_index(spark, args.merge_dedup_index, "merge", merge)


def _compact_dedup_index(spark, args, _):
    from .operators import dedup_index as di

    def compact(index, params):
        merged = di.cap_index(index, params["max_bucket"])
        if "epoch" in merged.columns:
            # flatten stream-accumulated history to epoch-less SEED rows
            # (visible to every epoch), like --compact-substr-index: a
            # stream restarted on a fresh offsets checkpoint restarts
            # epoch ids at 0, and rows keeping their old epoch values
            # would be hidden from every probe of the new run (and its
            # epoch-0 write would collide with the old subdir). Run this
            # only with the stream STOPPED — same rule as the substr twin.
            merged = merged.drop("epoch").distinct()
        return merged

    return _rewrite_dedup_index(spark, args.compact_dedup_index, "compact", compact)


# PQ-index lifecycle, the ANN twin of the dedup index. build encodes the
# --input embeddings and persists codes + codebook sidecar; append
# encodes a new batch against the SIDECAR's codebook (never a fresh one
# — codes from two codebooks are incomparable, which read_pq_index's
# guards enforce) and appends, no compaction needed (per-vector codes are
# independent); probe runs the ADC top-k scan, optionally reranked by
# exact cosine over --rerank-vectors (the scan→shortlist→rerank shape of
# q21 part='pq' — compressed distance finds the neighborhood, exact
# distance orders it).


def _build_pq_index(spark, args, emb):
    from .operators import pq

    batch = pq.normalize_embeddings(emb)
    iters = args.train_codebook
    book = pq.train_codebook(batch, iters=iters) if iters is not None else pq.pq_codebook(batch)
    # routing state (per-code IVF cluster id) is persisted
    # unconditionally: one int per code, computed in the same broadcast
    # encode pass, and it is what makes --ivf-nprobe probes possible
    # later — at 10^12 codes the routed probe is the only probe that
    # matters
    pq.write_pq_index(
        pq.pq_encode(batch, book, ivf_n_cent=pq.N_IVF),
        book,
        args.build_pq_index,
        ivf_n_cent=pq.N_IVF,
    )
    trained = f" (codebook Lloyd-trained, {iters} iters)" if iters is not None else ""
    return f"built pq index at {args.build_pq_index}{trained}"


def _append_pq_index(spark, args, emb):
    from .operators import pq

    idx_dir = args.append_pq_index
    batch = pq.normalize_embeddings(emb)
    _codes, book, meta = pq.read_pq_index(spark, idx_dir)
    # encode with the INDEX's routing config (None for a pre-routing
    # index) — write_pq_index rejects a mismatch
    nc = meta.get("ivf_n_cent")
    pq.write_pq_index(
        pq.pq_encode(batch, book, ivf_n_cent=nc), book, idx_dir, mode="append", ivf_n_cent=nc
    )
    return f"appended batch codes to pq index at {idx_dir}"


def _probe_pq_index(spark, args, emb):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from .operators import pq

    idx_dir = args.probe_pq_index
    batch = pq.normalize_embeddings(emb)
    codes, book, meta = pq.read_pq_index(spark, idx_dir)
    q = batch.select(F.col("vec_id").alias("query_id"), "en")
    tables = pq.pq_query_tables(q, book)
    by = None
    if args.ivf_nprobe is not None:
        nc = meta.get("ivf_n_cent")
        if nc is None or "cluster_id" not in codes.columns:
            raise SystemExit(
                "pmocr-spark: error: --ivf-nprobe needs per-code cluster ids; "
                f"the index at {idx_dir} predates IVF routing — rebuild it "
                "with --build-pq-index"
            )
        tables = tables.join(pq.ivf_probe_topn(q, book, args.ivf_nprobe, n_cent=nc), "query_id")
        by = "cluster_id"
    if not args.rerank_vectors:
        hits = pq.pq_adc_topk(codes, tables, topk=args.pq_topk or pq.SHORTLIST, by=by)
    else:
        topk = args.pq_topk or 5
        short = pq.pq_adc_topk(codes, tables, topk=pq.SHORTLIST, by=by).select(
            "query_id", "neighbor_id"
        )
        cand = pq.normalize_embeddings(spark.read.parquet(args.rerank_vectors)).select(
            F.col("vec_id").alias("neighbor_id"), F.col("en").alias("cen")
        )
        dot = F.aggregate(
            F.zip_with("en", "cen", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
        hits = (
            cand.join(F.broadcast(short), "neighbor_id")
            .join(F.broadcast(q), "query_id")
            .select("query_id", "neighbor_id", F.round(dot, 4).alias("cos_sim"))
            .select(
                "query_id",
                "neighbor_id",
                F.row_number().over(w).cast("long").alias("rk"),
                "cos_sim",
            )
            .filter(F.col("rk") <= topk)
        )
    return hits, lambda _: f"pq probe hits written to {args.output}"


def _text_index(op: str):
    """BM25 text-index build/append: the inverted index (postings/dl/df
    + stats sidecar) over the --input documents table; every component
    is additive over doc_id-disjoint batches, so append needs no merge
    pass."""

    def run(spark, args, docs):
        from .operators import bm25

        idx_dir = getattr(args, f"{op}_text_index")
        mode = "append" if op == "append" else "overwrite"
        meta = bm25.write_text_index(docs, idx_dir, mode=mode)
        return f"{op} text index at {idx_dir} ({meta['n_docs']} docs, {meta['sum_dl']} tokens)"

    return run


def _search_text(spark, args, _):
    """Scores --query against the persisted index with the exact same
    _score_topk path the q21 gate arm uses."""
    from .operators import bm25

    queries = bm25.parse_query_terms(spark, args.query)
    hits = bm25.search_text_index(
        spark, args.search_text, queries, topk=args.search_topk or 5, max_df_frac=args.max_df
    )
    return hits, lambda got: f"text search wrote {got.count()} hits to {args.output}"


def _search_phrase(spark, args, docs):
    from .operators import bm25

    phrases = spark.createDataFrame(
        [(i, p.strip()) for i, p in enumerate(args.search_phrase.split(",")) if p.strip()],
        "query_id long, phrase string",
    )
    hits = bm25.phrase_search(docs, phrases, topk=args.search_topk or 5, text_col=args.text_col)
    return hits, lambda got: f"phrase search wrote {got.count()} hits to {args.output}"


# Bloom membership pre-filter lifecycle, the cheap first tier in front of
# the dedup index. build hashes the --input table's --bloom-key-col into
# k set-bit positions and persists them with the (m, k) geometry sidecar;
# append is the Bloom OR (pure position append, geometry enforced); probe
# answers definitely-new / maybe-member per input row with zero
# probe-side shuffle (the broadcast path) — route only the maybe rows to
# the exact index; compact rewrites the positions distinct.


def _bloom_keyed(args, batch):
    from pyspark.sql import functions as F

    key_col = args.bloom_key_col or "text"
    if key_col not in batch.columns:
        raise SystemExit(
            f"pmocr-spark: error: --input has no column {key_col!r} "
            f"(columns: {', '.join(batch.columns)}); set --bloom-key-col"
        )
    return batch.withColumn("_bkey", F.md5(F.col(key_col).cast("binary")))


def _build_bloom_index(spark, args, batch):
    from .operators import bloom

    m = args.bloom_m if args.bloom_m is not None else bloom.BLOOM_M
    k = args.bloom_k if args.bloom_k is not None else bloom.BLOOM_K
    bits = bloom.bloom_build(_bloom_keyed(args, batch), key_col="_bkey", m=m, k=k)
    bloom.write_bloom_index(bits, args.build_bloom_index, m=m, k=k)
    return f"built bloom index at {args.build_bloom_index} (m={m}, k={k})"


def _append_bloom_index(spark, args, batch):
    from .operators import bloom

    idx_dir = args.append_bloom_index
    keyed = _bloom_keyed(args, batch)
    _bits, meta = bloom.read_bloom_index(spark, idx_dir)
    add = bloom.bloom_build(keyed, key_col="_bkey", m=meta["m"], k=meta["k"])
    bloom.write_bloom_index(add, idx_dir, m=meta["m"], k=meta["k"], mode="append")
    return f"appended batch positions to bloom index at {idx_dir}"


def _probe_bloom_index(spark, args, batch):
    from pyspark.sql import functions as F

    from .operators import bloom

    idx_dir = args.probe_bloom_index
    keyed = _bloom_keyed(args, batch)
    bits, meta = bloom.read_bloom_index(spark, idx_dir)
    out = bloom.bloom_probe(keyed, bits, key_col="_bkey", m=meta["m"], k=meta["k"]).drop("_bkey")

    def summary(got):
        c = got.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("maybe_member"), F.lit(0)).alias("maybe"),
        ).collect()[0]
        return (
            f"probed {c['n']} rows against {idx_dir}: "
            f"{c['maybe']} maybe-member (exact-check these), "
            f"{c['n'] - c['maybe']} definitely new"
        )

    return out, summary


def _compact_bloom_index(spark, args, _):
    from .operators import bloom

    n = bloom.compact_bloom_index(spark, args.compact_bloom_index)
    return f"compacted bloom index at {args.compact_bloom_index} to {n} positions"


def _compact_substr_index(spark, args, _):
    from . import checkpoint as ckpt
    from .operators.substring_dedup import GRAM_META, read_gram_index

    idx_dir = args.compact_substr_index
    meta = ckpt.read_sidecar(spark, idx_dir, GRAM_META)
    flat = read_gram_index(spark, idx_dir).select("gh").distinct().persist()
    n = flat.count()  # materialize before replacing the dir it reads
    ckpt.replace_dir(spark, flat, idx_dir, tag=".substr")
    flat.unpersist()
    if meta is not None:  # restore the sidecar the swap discarded
        ckpt.write_sidecar(spark, idx_dir, GRAM_META, meta)
    return f"compacted gram index at {idx_dir} to {n} rows"


# ---------------------------------------------------------------- media modes


def _ok_err(got) -> tuple[int, int]:
    """(rows without, rows with) an error, the error-as-data split."""
    from pyspark.sql import functions as F

    return (
        got.filter(F.col("error").isNull()).count(),
        got.filter(F.col("error").isNotNull()).count(),
    )


def _transcribe(kind: str):
    def run(spark, args, blobs):
        from pyspark.sql import functions as F

        from .operators import multimodal

        op = getattr(multimodal, f"{kind}_transcribe")
        out = blobs.select("media_ref", op(F.col("content")).alias("t")).select("media_ref", "t.*")

        def summary(got):
            n_ok, n_err = _ok_err(got)
            return (
                f"transcribed {n_ok} {kind} blobs "
                f"({n_err} failed as error rows) to {args.output}"
            )

        return out, summary

    return run


def _near_dup(what: str, op_name: str):
    def run(spark, args, blobs):
        from .operators import multimodal

        h = args.phash_max_hamming
        pairs = getattr(multimodal, op_name)(blobs, **({} if h is None else {"max_hamming": h}))
        return pairs, lambda got: f"{got.count()} {what} near-dup pairs written to {args.output}"

    return run


def _audit_blobs(spark, args, blobs):
    from pyspark.sql import functions as F

    from . import codecs
    from .operators.html_extract import HTML_KINDS

    head6 = F.expr("substring(content, 1, 6)")
    head4 = F.expr("substring(content, 1, 4)")
    sniff = F.lower(F.expr("cast(substring(content, 1, 256) AS string)"))
    detected = (
        F.when(F.col("content").isNull(), "missing")
        .when(head6 == F.lit(codecs.IMG_MAGIC), "img")
        .when(head6 == F.lit(codecs.PDF_MAGIC), "pdf")
        .when(head4 == F.lit(codecs.AUDIO_MAGIC), "audio")
        .when(head4 == F.lit(codecs.VIDEO_MAGIC), "video")
        .when(sniff.contains("<html") | sniff.contains("<!doctype html"), "html")
        .otherwise("unknown")
    )
    kind_lc = F.lower(F.coalesce(F.col("kind"), F.lit("")))
    expected = (
        F.when(kind_lc == "pdf", "pdf")
        .when(kind_lc.isin(*codecs.IMAGE_KINDS), "img")
        .when(kind_lc.isin(*codecs.AUDIO_KINDS), "audio")
        .when(kind_lc.isin(*codecs.VIDEO_KINDS), "video")
        .when(kind_lc.isin(*HTML_KINDS), "html")
        .otherwise("unknown")
    )
    audited = blobs.select(
        "media_ref",
        "kind",
        detected.alias("detected"),
        (detected == expected).alias("ok"),
    )

    def summary(_):
        counts = audited.groupBy("kind", "detected", "ok").count().orderBy("kind", "detected")
        n_bad = 0
        for r in counts.collect():
            print(
                f"pmocr-spark: audit kind={r['kind']} detected={r['detected']} "
                f"ok={r['ok']} n={r['count']}"
            )
            if not r["ok"]:
                n_bad += r["count"]
        return f"audit wrote {n_bad} mismatched blobs to {args.output}"

    return audited.filter(~F.col("ok")).select("media_ref", "kind", "detected"), summary


def _extract_markdown(spark, args, blobs):
    import pandas as pd

    from .operators import html_extract as hx

    schema = (
        "media_ref string, markdown string, tables_json string, "
        "n_blocks long, n_tables long"
    )

    def conv(batches):
        # iterator mapInPandas: constant memory however many blobs;
        # non-HTML blobs skipped by the same content magic the fused
        # pipeline UDF dispatches on. Tables ship as JSON (Arrow's
        # pandas converter rejects triply-nested list columns);
        # consumers re-structure with from_json('array<array<
        # array<string>>>').
        import json

        for pdf in batches:
            refs, mds, tbls, nb, nt = [], [], [], [], []
            for ref, blob in zip(pdf["media_ref"], pdf["content"]):
                if blob is None or not hx.sniff_html(bytes(blob)):
                    continue
                try:
                    doc = bytes(blob).decode("utf-8")
                except UnicodeDecodeError:
                    continue
                md = hx.to_markdown(doc)
                tables = hx.extract_tables(doc)
                refs.append(ref)
                mds.append(md)
                tbls.append(json.dumps(tables))
                nb.append(len([b for b in md.split("\n\n") if b]))
                nt.append(len(tables))
            yield pd.DataFrame(
                {
                    "media_ref": refs,
                    "markdown": mds,
                    "tables_json": tbls,
                    "n_blocks": nb,
                    "n_tables": nt,
                }
            )

    out = blobs.select("media_ref", "content").mapInPandas(conv, schema)
    return out, lambda got: f"extracted markdown for {got.count()} html blobs to {args.output}"


def _word_boxes(spark, args, blobs):
    import pandas as pd

    from . import codecs

    as_hocr, as_tables, as_layout = args.hocr, args.tables, args.layout
    what, schema = (
        ("layout blocks", "block_no long, n_lines long, text string")
        if as_layout
        else ("hOCR documents", "hocr string, n_words long")
        if as_hocr
        else ("table cells", "block_no long, row_no long, col_no long, cell string, "
              "x0 long, y0 long, x1 long, y1 long")
        if as_tables
        else ("word boxes", "line_no long, word_no long, word string, "
              "x0 long, y0 long, x1 long, y1 long")
    )
    fields = [f.split() for f in schema.split(", ")]
    cols = ["media_ref", *(name for name, _t in fields), "error"]
    # an undecodable blob's row: -1 in every long field, null in the rest
    blank = tuple(-1 if t == "long" else None for _name, t in fields)
    schema = f"media_ref string, {schema}, error string"

    def boxes(batches):
        # iterator mapInPandas: constant memory; only image/pdf
        # containers are OCR-able layout sources (audio/html/video
        # skipped by the same magic dispatch the fused UDF uses);
        # undecodable image blobs become one error row each — the
        # engine's error-as-data discipline, never a lost blob.
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["content"]):
                if blob is None:
                    continue
                b = bytes(blob)
                if b[:6] not in (codecs.IMG_MAGIC, codecs.PDF_MAGIC):
                    continue
                try:
                    if as_layout:
                        for bno, btxt in enumerate(codecs.recognize_regions(b)):
                            rows.append((ref, bno, btxt.count("\n") + 1, btxt, None))
                    elif as_tables:
                        # per COLUMN BLOCK: detect_table's whitespace
                        # channels are only meaningful inside one
                        # block's coordinate frame — a two-column
                        # page is two independent tables
                        for bno, (bws, _n) in enumerate(codecs.recognize_words_blocks(b)):
                            for rn, cn, cell, x0, x1, y0, y1 in codecs.detect_table(bws):
                                rows.append((ref, bno, rn, cn, cell, x0, y0, x1, y1, None))
                    elif as_hocr:
                        ws = codecs.recognize_words(b)
                        rows.append((ref, codecs.to_hocr(ws, page_id=ref), len(ws), None))
                    else:
                        for ln, wn, w, x0, y0, x1, y1 in codecs.recognize_words(b):
                            rows.append((ref, ln, wn, w, x0, y0, x1, y1, None))
                # broad catch, same as the fused UDF (udfs.py): a
                # magic-valid blob with a torn header raises raw
                # struct.error from rasterize, and error-as-data
                # means NO exception may kill the task
                except Exception as e:  # noqa: BLE001
                    rows.append((ref, *blank, str(e)))
            yield pd.DataFrame(rows, columns=cols)

    def summary(got):
        n_ok, n_err = _ok_err(got)
        return f"{n_ok} {what} ({n_err} undecodable blobs as error rows) to {args.output}"

    return blobs.select("media_ref", "content").mapInPandas(boxes, schema), summary


def _extract_links(spark, args, blobs):
    from .operators.linkgraph import edges_from_html

    edges = edges_from_html(blobs)
    return edges, lambda got: f"extracted {got.count()} host-level link edges to {args.output}"


# ---------------------------------------------------------------- text modes


def _as_text(args, df):
    """The input with its --text-col column named text."""
    tc = args.text_col
    return df.withColumnRenamed(tc, "text") if tc != "text" else df


def _corpus_stats(spark, args, docs):
    from .operators.corpus_stats import corpus_datasheet

    sheet = corpus_datasheet(docs)
    with open(args.output, "w") as fh:
        json.dump(sheet, fh, indent=1)
    return (
        f"datasheet for {sheet['n_docs']} docs "
        f"({sheet['total_tokens']} tokens, dup rate "
        f"{sheet['approx_exact_dup_rate']}) written to {args.output}"
    )


def _fix_text(spark, args, df):
    from pyspark.sql import functions as F

    from .functions import dehyphenate, fix_mojibake, is_mojibake, reflow

    tc = args.text_col
    # encoding repair FIRST (mojibake survives reflow but confuses the
    # hyphen heuristics), then count BEFORE the text repairs so the
    # counters describe what changed; everything stays inside one
    # codegen'd map projection
    c = fix_mojibake(F.col(tc))
    n_hyp = F.regexp_count(c, F.lit("([A-Za-z0-9])-\n[ \t]*[a-z0-9]"))
    fixed = reflow(dehyphenate(c))
    out = (
        df.withColumn("n_mojibake_repaired", is_mojibake(F.col(tc)))
        .withColumn("n_hyphens_repaired", n_hyp.cast("long"))
        .withColumn(
            "n_breaks_reflowed",
            (
                F.regexp_count(dehyphenate(c), F.lit("\n"))
                - F.regexp_count(fixed, F.lit("\n"))
            ).cast("long"),
        )
        .withColumn(tc, fixed)
    )

    def summary(got):
        tot = got.agg(
            F.coalesce(F.sum("n_mojibake_repaired"), F.lit(0)).alias("m"),
            F.coalesce(F.sum("n_hyphens_repaired"), F.lit(0)).alias("h"),
            F.coalesce(F.sum("n_breaks_reflowed"), F.lit(0)).alias("b"),
            F.count("*").alias("n"),
        ).collect()[0]
        return (
            f"repaired {tot['n']} rows ({tot['m']} mojibake docs, "
            f"{tot['h']} hyphen breaks, {tot['b']} wraps reflowed) to {args.output}"
        )

    return out, summary


def _spell_fix(spark, args, df):
    import re

    import pandas as pd
    from pyspark.sql import functions as F

    from .operators.bpe import word_freqs
    from .operators.spellfix import spell_corrections

    tc = args.text_col
    wfd = word_freqs(_as_text(args, df))
    # the correction map is rare-vocab-bounded (Heaps law): the targets
    # are freq<=2 words, so this collect is the same driver-small
    # footprint as the BPE merge loop / PQ codebooks
    mapping = {r["wrong"]: r["corrected"] for r in spell_corrections(wfd).collect()}
    bmap = spark.sparkContext.broadcast(mapping)
    word_re = re.compile(r"\S+")

    @F.pandas_udf("struct<fixed:string,n:long>")
    def fix(texts):
        m = bmap.value

        def one(t):
            if t is None:
                return {"fixed": None, "n": 0}
            n = 0

            def sub(match):
                nonlocal n
                rep = m.get(match.group(0).lower())
                if rep is None:
                    return match.group(0)
                n += 1
                return rep

            return {"fixed": word_re.sub(sub, t), "n": n}

        return pd.DataFrame([one(t) for t in texts])

    out = (
        df.withColumn("_fx", fix(F.col(tc)))
        .withColumn(tc, F.col("_fx.fixed"))
        .withColumn("n_spellfixed", F.col("_fx.n"))
        .drop("_fx")
    )

    def summary(got):
        tot = got.agg(
            F.coalesce(F.sum("n_spellfixed"), F.lit(0)).alias("f"),
            F.count("*").alias("n"),
        ).collect()[0]
        return (
            f"spell-fixed {tot['n']} rows ({tot['f']} tokens "
            f"corrected, {len(mapping)} dictionary corrections) to {args.output}"
        )

    return out, summary


def _tokens():
    from pyspark.sql import functions as F

    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")


def _keywords(spark, args, df):
    from pyspark.sql import functions as F

    from .operators import keywords

    method = args.keyword_method or "tfidf"
    topk = keywords.rake_topk if method == "rake" else keywords.tfidf_topk
    out = topk(_as_text(args, df), _tokens(), k=args.keywords)

    def summary(got):
        agg = got.agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")).collect()[0]
        return (
            f"extracted top-{args.keywords} {method} keywords "
            f"for {agg['d']} docs ({agg['n']} rows) to {args.output}"
        )

    return out, summary


def _collocations(spark, args, df):
    from pyspark.sql import functions as F

    from .operators.corpus_stats import llr_topk, pmi_topk

    docs = _as_text(args, df)
    toks = _tokens()
    n = F.size(toks)
    bg_arr = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bgc = (
        docs.select(F.explode(bg_arr).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    wf = (
        docs.select(F.explode(toks).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    mc = 10 if args.colloc_min_count is None else args.colloc_min_count
    pmi = pmi_topk(bgc, wf, k=args.collocations, min_count=mc).select(
        F.lit("pmi").alias("method"), "bigram", "cnt", F.col("pmi_micro").alias("score_micro")
    )
    llr = llr_topk(bgc, k=args.collocations, min_count=mc).select(
        F.lit("llr").alias("method"), "bigram", "cnt", F.col("llr_micro").alias("score_micro")
    )

    def summary(got):
        agg = got.agg(F.count("*").alias("n"), F.countDistinct("bigram").alias("b")).collect()[0]
        return (
            f"top-{args.collocations} collocations by pmi+llr "
            f"({agg['n']} rows, {agg['b']} distinct bigrams, min_count {mc}) "
            f"to {args.output}"
        )

    return pmi.unionAll(llr), summary


def _kwic(spark, args, df):
    from pyspark.sql import functions as F

    from .operators.keywords import kwic

    term = args.kwic.strip().lower()
    win = 2 if args.kwic_window is None else args.kwic_window
    out = kwic(_as_text(args, df), _tokens(), term, window=win)

    def summary(got):
        agg = got.agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")).collect()[0]
        return (
            f"{agg['n']} occurrences of '{term}' "
            f"in {agg['d']} docs (window {win}) to {args.output}"
        )

    return out, summary


def _srp_dedup(spark, args, emb):
    from pyspark.sql import functions as F

    from .operators.multimodal import srp_near_dup

    first = emb.select(F.size("embedding").alias("d")).first()
    if first is None:
        raise SystemExit(f"pmocr-spark: --srp-dedup: {args.input} is empty")
    vec = emb.select(
        F.col("vec_id").cast("string").alias("media_ref"),
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    h = args.phash_max_hamming
    pairs = srp_near_dup(vec, dim=int(first["d"]), **({} if h is None else {"max_hamming": h}))
    return pairs, lambda got: (
        f"{got.count()} SRP embedding near-dup pairs written to {args.output}"
    )


def _winnow_dedup(spark, args, docs):
    from .operators.winnow import shared_fingerprint_pairs, winnow_fingerprints

    # the fingerprint table IS the reusable artifact (the MOSS index);
    # persist it next to the pairs so later probes skip re-winnowing the
    # corpus
    winnow_fingerprints(docs).write.mode("overwrite").parquet(f"{args.output}.fps")
    fps = spark.read.parquet(f"{args.output}.fps")
    min_shared = args.winnow_min_shared if args.winnow_min_shared is not None else 2
    return shared_fingerprint_pairs(fps, min_shared=min_shared), lambda got: (
        f"{fps.count()} winnow fingerprints ({args.output}.fps); "
        f"{got.count()} match-candidate pairs (>= {min_shared} shared) written to "
        f"{args.output}"
    )


def _snm_dedup(spark, args, docs):
    from pyspark.sql import functions as F

    from .operators.dedup_index import ngram_rows
    from .queries import _snm_candidates

    w = args.snm_window if args.snm_window is not None else 4
    floor = args.snm_min_jaccard if args.snm_min_jaccard is not None else 0.05
    toks = _tokens()
    eligible = docs.filter(F.size(toks) >= 3)
    keyed = eligible.select("doc_id", F.concat_ws(" ", F.slice(toks, 1, 3)).alias("k"))
    cand = _snm_candidates(keyed, w=w)
    if (args.snm_passes or 1) == 2:
        # multi-pass merge/purge: an INDEPENDENT sort on the last-3-token
        # key catches pairs whose corrupted prefix defeated the first
        # pass; candidate sets union, the verify below runs once over
        # the union
        keyed2 = eligible.select("doc_id", F.concat_ws(" ", F.slice(toks, -3, 3)).alias("k"))
        cand = cand.unionAll(_snm_candidates(keyed2, w=w)).distinct()
    # exact shingle-Jaccard verify on candidates only (the q17
    # lsh_verified shape: candidate-doc semi-join BEFORE the distinct
    # shuffle)
    cdocs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = ngram_rows(eligible, 3, "shingle").join(cdocs, "doc_id", "left_semi").distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    pairs = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
        .filter(jac >= floor)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )
    return pairs, lambda got: (
        f"{got.count()} sorted-neighborhood dedup pairs "
        f"(window {w}, jaccard >= {floor}) written to {args.output}"
    )


def _compress_postings(spark, args, docs):
    from pyspark.sql import functions as F

    from .operators.postings import decode_postings, encode_postings

    def summary(index):
        agg = index.agg(
            F.coalesce(F.sum("n_postings"), F.lit(0)).alias("np"),
            F.coalesce(F.sum(F.length("payload")), F.lit(0)).alias("nb"),
        ).collect()[0]
        decoded = decode_postings(index).count()
        if decoded != agg.np:
            raise SystemExit(
                f"pmocr-spark: --compress-postings round-trip mismatch: "
                f"{agg.np} postings encoded, {decoded} decoded"
            )
        raw = agg.np * 8
        ratio = (agg.nb / raw) if raw else 0.0
        return (
            f"{agg.np} postings -> {agg.nb} payload bytes "
            f"({ratio:.3f}x of raw 8-byte ids; decode round-trip ok) "
            f"written to {args.output}"
        )

    return encode_postings(docs), summary


def _summarize(spark, args, docs):
    from .operators.textrank import top_sentences

    k = args.summary_k if args.summary_k is not None else 2

    def summary(got):
        n, nd = got.count(), got.select("doc_id").distinct().count()
        return f"{n} summary sentences (top-{k}) over {nd} docs written to {args.output}"

    return top_sentences(docs, k=k), summary


def _train_quality(spark, args, docs):
    from .operators import quality_classifier as qc_op

    model, _z = qc_op.train_quality_classifier(docs)
    qc_op.write_model(spark, args.output, model)
    return (
        f"trained quality model on {model['n_train']} docs "
        f"({model['iters']} iterations) to {args.output}"
    )


def _score_quality(spark, args, docs):
    from pyspark.sql import functions as F

    from .operators import quality_classifier as qc_op

    model = qc_op.read_model(spark, args.score_quality)
    # idempotent over its own output (the --encode-bpe discipline)
    scores = qc_op.score_with_model(docs, model)
    out = docs.drop("lr_quality", "keep_quality").join(scores, "doc_id")

    def summary(got):
        stats = got.agg(F.count("*"), F.coalesce(F.sum("keep_quality"), F.lit(0))).first()
        return f"scored {stats[0]} docs ({stats[1]} keep) to {args.output}"

    return out, summary


def _train_bpe(spark, args, docs):
    from .operators import bpe as bpe_op

    min_count = args.bpe_min_count or bpe_op.DEFAULT_MIN_COUNT
    merges = bpe_op.learn_bpe(docs, args.train_bpe, min_count=min_count)
    bpe_op.write_model(spark, args.output, merges, min_count=min_count)
    return f"learned {len(merges)} BPE merges (requested {args.train_bpe}) to {args.output}"


def _train_unigram(spark, args, docs):
    from .operators import unigram_lm as uni_op

    model = uni_op.train_unigram(docs, args.train_unigram)
    uni_op.write_model(spark, args.output, model, args.train_unigram)
    return (
        f"trained {len(model)}-piece unigram-LM tokenizer "
        f"(requested {args.train_unigram}) to {args.output}"
    )


def _encode_tokens(dest: str, module: str, prefix: str, label: str, unit: str):
    """--encode-bpe / --encode-unigram: tokenize the text column with the
    operators.<module> model dir at args.<dest> into <prefix>_tokens +
    n_<prefix>_tokens. The token columns are dropped first, so the mode
    is idempotent over its own output (same discipline as
    --dedup-substrings)."""

    def run(spark, args, docs):
        from importlib import import_module

        from pyspark.sql import functions as F

        op = import_module(f".operators.{module}", __package__)
        model = op.read_model(spark, getattr(args, dest))
        toks, n_toks = f"{prefix}_tokens", f"n_{prefix}_tokens"
        out = (
            docs.drop(toks, n_toks)
            .withColumn(toks, op.encode_udf(model)(F.col("text")))
            .withColumn(n_toks, F.size(toks).cast("long"))
        )

        def summary(got):
            n = got.agg(F.coalesce(F.sum(n_toks), F.lit(0)), F.count("*")).first()
            return (
                f"encoded {n[1]} docs ({n[0]} {label} tokens, "
                f"{len(model)}-{unit} model) to {args.output}"
            )

        return out, summary

    return run


def _dedup_substrings(spark, args, docs):
    from pyspark.sql import functions as F

    from .operators.substring_dedup import DEFAULT_K, substring_dedup

    k = args.substr_k or DEFAULT_K
    cleaned = substring_dedup(docs, k=k)
    # cleaned corpus keeps every non-text column; text is replaced by the
    # deduped reconstruction (doc_id equi-join, one shuffle). Drop any
    # pre-existing stat columns from the passthrough side so the mode is
    # idempotent over its own output (re-running with a different k must
    # overwrite, not COLUMN_ALREADY_EXISTS-crash on, the previous pass's
    # stats).
    out = docs.drop("text", "new_text", "n_words", "n_kept", "n_removed").join(
        cleaned.withColumnRenamed("new_text", "text"), "doc_id"
    )

    def summary(got):
        n = got.agg(F.sum("n_removed"), F.count("*")).first()
        return (
            f"substring dedup (k={k}) wrote {n[1]} docs to "
            f"{args.output}, {n[0]} duplicated words removed"
        )

    return out, summary


def _eval_extraction(spark, args, ext):
    from pyspark.sql import functions as F

    from .operators.extraction_eval import edit_eval, micro_scores, rate_micro, token_eval

    gold = spark.read.parquet(args.eval_extraction)
    if "doc_id" not in gold.columns or "text" not in gold.columns:
        raise SystemExit(
            f"--eval-extraction: {args.eval_extraction} needs "
            f"(doc_id, text) columns (columns: {gold.columns})"
        )
    # LEFT join from gold: gold docs the pipeline never extracted score
    # recall 0 (the honest eval convention) instead of silently dropping
    # out of the average
    pairs = gold.select("doc_id", F.col("text").alias("_gold")).join(
        ext.select("doc_id", F.coalesce(F.col(args.text_col), F.lit("")).alias("_ext")),
        "doc_id",
        "left",
    ).withColumn("_ext", F.coalesce(F.col("_ext"), F.lit("")))
    s = pairs.select(
        "doc_id",
        token_eval(F.col("_gold"), F.col("_ext")).alias("s"),
        edit_eval(F.col("_gold"), F.col("_ext")).alias("w"),
        F.levenshtein("_gold", "_ext").cast("long").alias("cdist"),
        F.length("_gold").cast("long").alias("n_gold_c"),
    ).select(
        "doc_id", "s.tp", "s.n_gold", "s.n_ext",
        "w.wdist", "w.n_gold_w", "cdist", "n_gold_c",
    )
    prec, rec, f1 = micro_scores(F.col("tp"), F.col("n_gold"), F.col("n_ext"))
    scored = s.select(
        "doc_id", "tp", "n_gold", "n_ext",
        prec.alias("prec_micro"), rec.alias("rec_micro"), f1.alias("f1_micro"),
        "cdist", "n_gold_c", "wdist", "n_gold_w",
        rate_micro(F.col("cdist"), F.col("n_gold_c")).alias("cer_micro"),
        rate_micro(F.col("wdist"), F.col("n_gold_w")).alias("wer_micro"),
    )

    def summary(res):
        agg = res.agg(
            F.count("*").alias("n"),
            F.sum("tp").alias("tp"),
            F.sum("n_gold").alias("ng"),
            F.sum("n_ext").alias("ne"),
            F.avg("f1_micro").alias("macro_f1"),
            F.sum("cdist").alias("cd"),
            F.sum("n_gold_c").alias("ngc"),
            F.sum("wdist").alias("wd"),
            F.sum("n_gold_w").alias("ngw"),
        ).collect()[0]
        micro_p = (agg["tp"] or 0) * 1000000 // agg["ne"] if agg["ne"] else 0
        micro_r = (agg["tp"] or 0) * 1000000 // agg["ng"] if agg["ng"] else 0
        cer = (agg["cd"] or 0) * 1000000 // agg["ngc"] if agg["ngc"] else 0
        wer = (agg["wd"] or 0) * 1000000 // agg["ngw"] if agg["ngw"] else 0
        return (
            f"evaluated {agg['n']} docs -> {args.output}; "
            f"micro P={micro_p / 10000:.2f}% R={micro_r / 10000:.2f}%, "
            f"macro F1={(agg['macro_f1'] or 0) / 10000:.2f}%, "
            f"CER={cer / 10000:.2f}% WER={wer / 10000:.2f}%"
        )

    return scored, summary


# ---------------------------------------------------------------- web / table modes


def _warc_cdx(spark, args, _):
    from .sources.warc import read_warc_records, warc_cdx

    idx = warc_cdx(read_warc_records(spark, args.input))
    return idx, lambda got: f"cdx index of {got.count()} records written to {args.output}"


def _robots_filter(spark, args, urls):
    from pyspark.sql import functions as F

    from .operators.robots import evaluate, rules_table

    if "host" not in urls.columns or "path" not in urls.columns:
        if "url" not in urls.columns:
            raise SystemExit(
                f"--robots-filter: {args.input} needs (host, path) "
                f"columns or a 'url' column (columns: {urls.columns})"
            )
        host_re = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)"
        path_re = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)"
        raw_path = F.regexp_extract("url", path_re, 1)
        urls = urls.withColumn(
            "host", F.lower(F.regexp_extract("url", host_re, 1))
        ).withColumn("path", F.when(raw_path == "", F.lit("/")).otherwise(raw_path))
    robots = spark.read.parquet(args.robots_filter)
    missing = [c for c in ("host", "content") if c not in robots.columns]
    if missing:
        raise SystemExit(
            f"--robots-filter: {args.robots_filter} lacks column(s) "
            f"{missing}; expected a robots.txt blob table (host, content)"
        )
    agent = args.robots_agent or "*"

    def summary(res):
        n = res.count()
        n_ok = res.filter(F.col("allowed") == 1).count()
        return (
            f"robots-filtered {n} urls for agent '{agent}': "
            f"{n_ok} allowed, {n - n_ok} disallowed -> {args.output}"
        )

    return evaluate(urls, rules_table(robots, agent=agent)), summary


def _pagerank(spark, args, edges):
    from .operators.linkgraph import pagerank

    iters = args.pr_iters or 10
    return pagerank(edges, iters=iters), lambda got: (
        f"pagerank ({iters} iters) over {got.count()} hosts written to {args.output}"
    )


def _lsh_plan(_spark, args, _):
    # pure driver-side arithmetic: no Spark session, instant
    from .operators.lsh_plan import plan_bands

    parts = [x.strip() for x in args.lsh_plan.split(",")]
    if len(parts) < 2 or len(parts) > 4:
        raise SystemExit("pmocr-spark: --lsh-plan wants N_HASHES,THRESHOLD[,FP_W[,FN_W]]")
    try:
        plan = plan_bands(
            int(parts[0]),
            float(parts[1]),
            fp_weight=float(parts[2]) if len(parts) > 2 else 1.0,
            fn_weight=float(parts[3]) if len(parts) > 3 else 1.0,
        )
    except ValueError as e:
        raise SystemExit(f"pmocr-spark: --lsh-plan: {e}")
    print(json.dumps(plan))


def _optimize_layout(spark, args, df):
    from .operators.zorder import optimize_layout

    col_a, col_b = [c.strip() for c in args.optimize_layout.split(",")]
    for c in (col_a, col_b):
        if c not in df.columns:
            raise SystemExit(f"pmocr-spark: --optimize-layout: no column {c!r} in {args.input}")
        if df.schema[c].dataType.simpleString() not in ("tinyint", "smallint", "int", "bigint"):
            raise SystemExit(
                f"pmocr-spark: --optimize-layout: column {c!r} is "
                f"{df.schema[c].dataType.simpleString()}; z-ordering needs an "
                "integer column (cast dates/timestamps to epoch first)"
            )
    n_files = args.layout_files if args.layout_files is not None else 16
    return optimize_layout(df, col_a, col_b, n_files=n_files), lambda got: (
        f"z-ordered {got.count()} rows on ({col_a}, {col_b}) into "
        f"{n_files} files at {args.output}"
    )


def _compact_output(spark, args, _):
    import math
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    df = spark.read.option("recursiveFileLookup", "true").parquet(args.input)
    in_files = df.inputFiles()
    # size the output from the INPUT bytes (compression ratio is
    # preserved by a rewrite of the same rows); at cluster scale the FS
    # listing already carries sizes — locally, stat them
    total = 0
    for f in in_files:
        p = urlparse(f).path
        if os.path.exists(p):
            total += os.path.getsize(p)
    target_mb = args.target_file_mb if args.target_file_mb is not None else 128
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    # deterministic row->file assignment: hash-repartition + sort on the
    # leading key column (the WET-sink discipline), so a re-run compacts
    # identically and downstream diffs are clean
    key = df.columns[0]
    out = df.repartition(n_files, F.col(key)).sortWithinPartitions(key)
    return out, lambda got: (
        f"compacted {len(in_files)} files "
        f"({total / 1048576:.1f} MB) into {n_files} at {args.output} "
        f"({got.count()} rows, key={key})"
    )


# ---------------------------------------------------------------- the table

_IO = ("input", "output")
_BLOBS = ("blobs", "output")
_PIPELINE = (
    "targets", "run_id", "job_ts", "suffix", "no_suffix", "filename_addition",
    "delete_input", "skip_txt_pdf", "metrics", "engine", "num_partitions",
    "span_join", "input_format",
)  # fmt: skip
_EMB = ("vec_id", "embedding")
_DOCS = ("doc_id", "text")
_HAMMING = _within("phash_max_hamming", 0, 64)

# fmt: off
MODES: tuple[Mode, ...] = (
    Mode("--batch", _run_batch, prepare=_check_pipeline,
         owns=_PIPELINE + ("raw", "compact_lineage", "output_format", "partition_by")),
    Mode("--service", _run_service, prepare=_check_pipeline,
         owns=_PIPELINE + ("monitor", "once", "dedup_index", "dedup_substrings_index",
                           "alerts", "stream_checkpoint")),
    Mode("--compact-lineage", _compact_lineage, needs=("lineage",)),
    Mode("--build-dedup-index", _build_dedup_index, needs=("input",), reads="input"),
    Mode("--probe-dedup-index", _probe_dedup_index, needs=_IO, reads="input",
         owns=("probe_broadcast",)),
    Mode("--merge-dedup-index", _merge_dedup_index, needs=("input",), reads="input"),
    Mode("--compact-dedup-index", _compact_dedup_index),
    Mode("--build-pq-index", _build_pq_index, needs=("input",), reads="input", cols=_EMB,
         owns=("train_codebook",), checks=(_at_least("train_codebook", 1, " ITERS"),)),
    Mode("--append-pq-index", _append_pq_index, needs=("input",), reads="input", cols=_EMB),
    Mode("--probe-pq-index", _probe_pq_index, needs=_IO, reads="input", cols=_EMB,
         owns=("rerank_vectors", "pq_topk", "ivf_nprobe"),
         checks=(_at_least("pq_topk", 1), _at_least("ivf_nprobe", 1))),
    Mode("--build-text-index", _text_index("build"), needs=("input",), reads="input"),
    Mode("--append-text-index", _text_index("append"), needs=("input",), reads="input"),
    Mode("--search-text", _search_text, needs=("query", "output"),
         owns=("query", "max_df", "search_topk"),
         checks=(_at_least("search_topk", 1),
                 (lambda a: a.max_df is None or 0 < a.max_df <= 1, "--max-df must be in (0, 1]"))),
    Mode("--search-phrase", _search_phrase, needs=_IO, reads="input", cols=("doc_id", TEXT),
         owns=("search_topk",), checks=(_at_least("search_topk", 1),)),
    Mode("--build-bloom-index", _build_bloom_index, needs=("input",), reads="input",
         owns=("bloom_m", "bloom_k", "bloom_key_col"),
         checks=(_at_least("bloom_m", 2), _at_least("bloom_k", 1))),
    Mode("--append-bloom-index", _append_bloom_index, needs=("input",), reads="input",
         owns=("bloom_key_col",)),
    Mode("--probe-bloom-index", _probe_bloom_index, needs=_IO, reads="input",
         owns=("bloom_key_col",)),
    Mode("--compact-bloom-index", _compact_bloom_index),
    Mode("--compact-substr-index", _compact_substr_index),
    Mode("--phash-dedup", _near_dup("visual", "phash_near_dup"), needs=_BLOBS, reads="blobs",
         owns=("phash_max_hamming",), checks=(_HAMMING,)),
    Mode("--afp-dedup", _near_dup("audio", "audio_near_dup"), needs=_BLOBS, reads="blobs",
         owns=("phash_max_hamming",), checks=(_HAMMING,)),
    Mode("--srp-dedup", _srp_dedup, needs=_IO, reads="input", cols=_EMB,
         owns=("phash_max_hamming",), checks=(_HAMMING,)),
    Mode("--transcribe-audio", _transcribe("audio"), needs=_BLOBS, reads="blobs"),
    Mode("--transcribe-video", _transcribe("video"), needs=_BLOBS, reads="blobs"),
    Mode("--audit-blobs", _audit_blobs, needs=_BLOBS, reads="blobs"),
    Mode("--extract-markdown", _extract_markdown, needs=_BLOBS, reads="blobs"),
    Mode("--word-boxes", _word_boxes, needs=_BLOBS, reads="blobs",
         owns=("hocr", "tables", "layout"),
         checks=((lambda a: a.hocr + a.tables + a.layout <= 1,
                  "--tables, --hocr and --layout are mutually exclusive outputs"),)),
    Mode("--extract-links", _extract_links, needs=_BLOBS, reads="blobs"),
    Mode("--corpus-stats", _corpus_stats, needs=_IO, reads="input", cols=("text",)),
    Mode("--fix-text", _fix_text, needs=_IO, reads="input", cols=(TEXT,)),
    Mode("--spell-fix", _spell_fix, needs=_IO, reads="input", cols=(TEXT,)),
    Mode("--keywords", _keywords, needs=_IO, reads="input", cols=("doc_id", TEXT),
         owns=("keyword_method",), checks=(_at_least("keywords", 1, " K"),)),
    Mode("--collocations", _collocations, needs=_IO, reads="input", cols=(TEXT,),
         owns=("colloc_min_count",),
         checks=(_at_least("collocations", 1, " K"), _at_least("colloc_min_count", 1))),
    Mode("--kwic", _kwic, needs=_IO, reads="input", cols=("doc_id", TEXT),
         owns=("kwic_window",),
         checks=((lambda a: a.kwic.strip(), "--kwic TERM must be non-empty"),
                 _at_least("kwic_window", 0))),
    Mode("--winnow-dedup", _winnow_dedup, needs=_IO, reads="input", cols=_DOCS,
         owns=("winnow_min_shared",), checks=(_at_least("winnow_min_shared", 1),)),
    Mode("--snm-dedup", _snm_dedup, needs=_IO, reads="input", cols=_DOCS,
         owns=("snm_window", "snm_min_jaccard", "snm_passes"),
         checks=(_at_least("snm_window", 2), _within("snm_min_jaccard", 0, 1))),
    Mode("--compress-postings", _compress_postings, needs=_IO, reads="input", cols=_DOCS),
    Mode("--summarize", _summarize, needs=_IO, reads="input", cols=_DOCS,
         owns=("summary_k",), checks=(_at_least("summary_k", 1),)),
    Mode("--train-quality", _train_quality, needs=_IO, reads="input", cols=("text",)),
    Mode("--score-quality", _score_quality, needs=_IO, reads="input", cols=("text",)),
    Mode("--train-bpe", _train_bpe, needs=_IO, reads="input", cols=("text",),
         owns=("bpe_min_count",),
         checks=(_at_least("train_bpe", 1, " merges"), _at_least("bpe_min_count", 1))),
    Mode("--encode-bpe", _encode_tokens("encode_bpe", "bpe", "bpe", "BPE", "merge"),
         needs=_IO, reads="input", cols=("text",)),
    Mode("--train-unigram", _train_unigram, needs=_IO, reads="input", cols=("text",),
         checks=(_at_least("train_unigram", 1, " VOCAB_SIZE"),)),
    Mode("--encode-unigram",
         _encode_tokens("encode_unigram", "unigram_lm", "uni", "unigram", "piece"),
         needs=_IO, reads="input", cols=("text",)),
    Mode("--dedup-substrings", _dedup_substrings, needs=_IO, reads="input",
         owns=("substr_k",), checks=(_at_least("substr_k", 2),)),
    Mode("--eval-extraction", _eval_extraction, needs=_IO, reads="input", cols=("doc_id", TEXT)),
    Mode("--warc-cdx", _warc_cdx, needs=_IO),
    Mode("--robots-filter", _robots_filter, needs=_IO, reads="input", owns=("robots_agent",)),
    Mode("--pagerank", _pagerank, needs=_IO, reads="input", cols=("src", "dst"),
         owns=("pr_iters",), checks=(_at_least("pr_iters", 1),)),
    Mode("--lsh-plan", _lsh_plan, session=False),
    Mode("--optimize-layout", _optimize_layout, needs=_IO, reads="input",
         owns=("layout_files",),
         checks=((lambda a: len([c for c in a.optimize_layout.split(",") if c.strip()]) == 2,
                  "--optimize-layout wants exactly two columns: COL_A,COL_B"),
                 _at_least("layout_files", 1))),
    Mode("--compact-output", _compact_output, needs=_IO, owns=("target_file_mb",),
         checks=(_at_least("target_file_mb", 1),)),
)
# fmt: on

if __name__ == "__main__":
    main()
