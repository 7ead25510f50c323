"""spark-submit surface for the training-data pipeline ops (datapipe.py):

  spark-submit --py-files mxsparkg.zip jobs/datapipe.py \
      --op dedup_minhash_pairs --input <documents.parquet> --out <dir> \
      [--min-est-jaccard 0.5]

ops:
  dedup_exact          keeper per content hash
  dedup_minhash_pairs  MinHash+LSH near-dup candidate PAIRS (the actual
                       dedup decision table; bucket-join, never O(n²))
  dedup_minhash_quality  estimate-vs-exact Jaccard calibration per
                       candidate pair (tune --min-est-jaccard with this)
  dedup_simhash        16-bit fingerprints
  txt_quality          quality-score table (filtering input)
  txt_langid           language-ID table
  txt_winnow           MOSS winnowing fingerprints (partial-overlap dedup)
  txt_repetition       Gopher-style repetition screens
  txt_redact           PII counts + redacted-content digest
  txt_tokens           token-budget cost model
  txt_fingerprint      content + bag-of-words fingerprints
  txt_decontam         benchmark k-gram decontamination flags
  txt_tfidf            per-doc TF-IDF top terms
  txt_vocab            corpus vocabulary (cf/df, top terms)
  txt_lm_score         bigram LM surprisal quality scores (whole-bit exact)
  txt_sample_stratified  deterministic per-language quota sample
  txt_classify         hashed-feature linear quality classification
  txt_filter_gate      composite keep/drop decision table (reason bitmask
                       over quality/langid/repetition/classifier)
  txt_boilerplate      line-level (segment) boilerplate strip manifest
  txt_chunk            overlapping token-window chunk manifest
  txt_pack_sequences   sequence-packing manifest (per-shard offsets)
  txt_bpe_merges       distributed BPE merge training (fixed unroll)
  txt_collocations     PMI collocation / phrase mining (whole-bit exact)
  bpe_encode           train --merges merges, then encode the corpus
                       (per-doc token counts + stream digest)
  dedup_substring      cross-doc duplicated-run strip manifest
  dedup_incremental    new-shard dedup vs the base corpus digest index

Prints one JSON line {op, rows, wall_sec, out}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--op", required=True,
                    choices=["dedup_exact", "dedup_minhash_pairs",
                             "dedup_minhash_quality",
                             "dedup_simhash", "txt_quality", "txt_langid",
                             "txt_winnow", "txt_repetition", "txt_redact",
                             "txt_tokens", "txt_fingerprint",
                             "txt_decontam", "txt_tfidf", "txt_vocab",
                             "txt_lm_score", "txt_sample_stratified",
                             "txt_classify", "txt_filter_gate",
                             "txt_boilerplate",
                             "txt_chunk", "txt_pack_sequences",
                             "txt_bpe_merges", "bpe_encode",
                             "txt_collocations",
                             "dedup_substring", "dedup_incremental"])
    ap.add_argument("--input", required=True,
                    help="documents-shaped parquet (doc_id, text, ...)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-est-jaccard", type=float, default=0.5)
    ap.add_argument("--merges", type=int, default=None,
                    help="bpe_encode: number of merges to train (default "
                         "the gate constant BPE_MERGES)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from mxsparkg import datapipe as dp
    from mxsparkg.session import get_spark

    spark = get_spark(master=args.master, app_name=f"datapipe-{args.op}")
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()

    # the queries() registry reads f"{sf}/documents.parquet"; point sf at
    # the input's parent and symlink-free: read directly instead
    docs = spark.read.parquet(args.input)
    orig_docs = dp._docs
    dp._docs = lambda _s, _sf: docs
    try:
        if args.op == "dedup_minhash_pairs":
            sig = dp.minhash_signatures(docs)
            out_df = dp.minhash_candidate_pairs(sig, args.min_est_jaccard)
        elif args.op == "dedup_minhash_quality":
            out_df = dp.minhash_pair_quality(docs, args.min_est_jaccard)
        elif args.op == "bpe_encode":
            n_merges = args.merges or dp.BPE_MERGES
            out_df = dp.bpe_encode(docs, dp.bpe_train(docs, n_merges))
        else:
            fn = {
                "dedup_exact": dp.dedup_exact,
                "dedup_simhash": dp.dedup_simhash,
                "txt_quality": dp.txt_quality,
                "txt_langid": dp.txt_langid,
                "txt_winnow": dp.txt_winnow,
                "txt_repetition": dp.txt_repetition,
                "txt_redact": dp.txt_redact,
                "txt_tokens": dp.txt_tokens,
                "txt_fingerprint": dp.txt_fingerprint,
                "txt_decontam": dp.txt_decontam,
                "txt_tfidf": dp.txt_tfidf,
                "txt_vocab": dp.txt_vocab,
                "txt_lm_score": dp.txt_lm_score,
                "txt_sample_stratified": dp.txt_sample_stratified,
                "txt_classify": dp.txt_classify,
                "txt_filter_gate": dp.txt_filter_gate,
                "txt_boilerplate": dp.txt_boilerplate,
                "txt_chunk": dp.txt_chunk,
                "txt_pack_sequences": dp.txt_pack_sequences,
                "txt_bpe_merges": dp.txt_bpe_merges,
                "txt_collocations": dp.txt_collocations,
                "dedup_substring": dp.dedup_substring,
                "dedup_incremental": dp.dedup_incremental,
            }[args.op]
            out_df = fn(spark, "")
        out_df.write.mode("overwrite").parquet(args.out)
    finally:
        dp._docs = orig_docs
    n = spark.read.parquet(args.out).count()
    print(json.dumps({
        "op": args.op, "rows": n,
        "wall_sec": round(time.time() - t0, 2), "out": args.out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
