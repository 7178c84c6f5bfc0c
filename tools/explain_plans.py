"""Generate PLANS.md: formatted physical plans of the flagship operators
with plan-quality commentary (pushdown, pruning, codegen spans, exchange
count).  Rerun after plan-shape changes: python tools/explain_plans.py"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("explain-plans")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from top_secret_spark.operators.batch import global_mapping_df
    from top_secret_spark.operators.dedup import near_duplicates_minhash
    from top_secret_spark.operators.scrub import with_scrub
    from top_secret_spark.operators.similarity import brute_force_top_k
    from top_secret_spark.pipeline import run_pipeline
    from top_secret_spark.util import ship_package

    ship_package(spark)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    sections = []

    pipeline_plan = explain_str(
        run_pipeline(
            docs.select(F.col("doc_id").cast("string").alias("clip_id"),
                        F.col("text").alias("transcript"))
        ).select("clip_id", "keep", "scrubbed")
    )
    sections.append((
        "Fused quality-filter + scrub pipeline (parquet → output projection)",
        pipeline_plan,
        "- ONE `ArrowEvalPython` node — the whole Python pipeline crosses\n"
        "  the JVM boundary once per batch, for every `PipelineConfig`;\n"
        "  everything around it is `WholeStageCodegen`.\n"
        "- `Scan parquet` shows a pruned `ReadSchema` (only doc_id + text are\n"
        "  read); only the columns the stage reads cross to Python, the rest\n"
        "  stay in the JVM.\n"
        "- Zero `Exchange` nodes: map-only, embarrassingly parallel; scales\n"
        "  with input splits, no shuffle to skew.",
    ))

    filtered_scan = explain_str(
        with_scrub(docs.filter(F.col("n_chars") > 100), text_col="text")
        .select("doc_id", "scrubbed")
    )
    sections.append((
        "Scrub with a pre-filter (predicate pushdown check)",
        filtered_scan,
        "- `PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]` on\n"
        "  the parquet scan — the filter lands in the reader, rows never reach\n"
        "  Python.\n"
        "- The UDF project sits above the filter, so dropped rows are never\n"
        "  scrubbed.",
    ))

    gm_plan = explain_str(
        global_mapping_df(with_scrub(
            docs.select(F.col("doc_id").alias("msg_idx"),
                        F.col("text").alias("input")),
            text_col="input"))
    )
    sections.append((
        "Batch global-label assignment (the engine's only shuffle)",
        gm_plan,
        "- ONE ArrowEvalPython: posexplode_outer avoids the generator\n"
        "  pre-filter that would re-evaluate the scrub UDF (see\n"
        "  operators/batch.py).\n"
        "- Exactly one `Exchange hashpartitioning(value…)` for the\n"
        "  groupBy(value) first-seen aggregation (high-cardinality key — well\n"
        "  distributed), then one `Exchange hashpartitioning(label_type…)` +\n"
        "  `Window` for per-type sequence numbers (label_type cardinality is\n"
        "  tiny, but so is the data by then: distinct values only).\n"
        "- `HashAggregate` runs partial_min map-side before the exchange —\n"
        "  map-side combine keeps the shuffle to one struct per distinct value\n"
        "  per partition.",
    ))

    topk_plan = explain_str(
        brute_force_top_k(emb, [(0, [0.1] * 64)], k=5)
    )
    sections.append((
        "Brute-force cosine top-k (two-phase)",
        topk_plan,
        "- Phase one is the `MapInPandas` node: a RUNNING per-partition\n"
        "  top-k (one matmul per Arrow batch against the closure-broadcast\n"
        "  query matrix) that emits at most k x n_queries rows per\n"
        "  partition — the corpus never leaves its partition.\n"
        "- The single `Exchange hashpartitioning(query_id)` therefore\n"
        "  carries <= k x n_partitions candidate triples per query, not\n"
        "  corpus_size x n_queries; the `Window` ranks that tiny set.\n"
        "- Ties break (score desc, id asc) in BOTH phases, so partition\n"
        "  truncation can never cut a row the global top-k would keep.",
    ))

    from top_secret_spark.operators.dedup import (
        simhash_candidate_pairs,
        with_fingerprint,
        with_simhash,
    )

    fp_plan = explain_str(
        with_fingerprint(docs).groupBy("fingerprint").count()
    )
    sections.append((
        "Exact-dedup fingerprint (pure Catalyst)",
        fp_plan,
        "- NO Python anywhere: the fingerprint is `xxhash64` over\n"
        "  Catalyst-normalized text (lower/trim/regexp_replace), fully\n"
        "  inside `WholeStageCodegen` — the previous per-byte Python FNV\n"
        "  loop is gone.\n"
        "- The groupBy shuffles 8-byte hashes with map-side partial\n"
        "  aggregation; document text never reaches the exchange.",
    ))

    sh_plan = explain_str(
        simhash_candidate_pairs(
            with_simhash(docs.limit(200)).select("doc_id", "simhash")
        )
    )
    sections.append((
        "SimHash candidate pairs (bucket self-join)",
        sh_plan,
        "- Banding is a posexplode of four 16-bit slices; pair expansion is\n"
        "  a codegen'd self-JOIN on (band, bucket) — the former\n"
        "  collect_list + nested-transform expansion evaluated O(n^2)\n"
        "  structs on ONE row and could OOM an executor on a mega-bucket;\n"
        "  the join form is AQE-skew-splittable.\n"
        "- Shuffle keys are (band, 16-bit bucket, 8-byte id) — no text.",
    ))

    nd_plan = explain_str(near_duplicates_minhash(docs.limit(200)))
    sections.append((
        "MinHash near-dup (signatures → LSH bucket self-join → verify)",
        nd_plan,
        "- The expensive signature UDF runs once (persisted `InMemoryRelation`)\n"
        "  and feeds candidate generation AND both verify-join sides; candidate\n"
        "  pairs have a single consumer (the verify join) and flow through\n"
        "  unpersisted — no extra materialization barrier.\n"
        "- Candidate expansion is a codegen'd self-JOIN on (band, bucket)\n"
        "  — a giant near-duplicate bucket becomes join work that AQE can\n"
        "  skew-split, not one quadratic expression on a single row.\n"
        "- Shuffles carry (band, bucket-hash) and fixed-width signature arrays\n"
        "  — document text never moves.\n"
        "- Band count auto-tunes to the threshold's S-curve knee, so\n"
        "  sub-threshold collisions (the candidate-volume cost driver at\n"
        "  100 TB) are suppressed before any join happens.",
    ))

    from top_secret_spark.operators.dedup import (
        embedding_near_duplicates,
        near_duplicates_simhash,
    )
    from top_secret_spark.operators.similarity import with_text_embedding
    from top_secret_spark.pipeline import per_codec_top_k

    nds_plan = explain_str(
        near_duplicates_simhash(docs.limit(200), materialize=False)
    )
    sections.append((
        "SimHash near-dup end-to-end (sketch → buckets → Hamming verify)",
        nds_plan,
        "- The 8-byte sketch is computed once (persisted) and reused by\n"
        "  banding and BOTH verify-join sides — the ArrowEvalPython node\n"
        "  appears once; verify joins read the InMemoryRelation.\n"
        "- Hamming filter is `bit_count(xor)` — pure codegen on longs.\n"
        "- Per-doc sketch state is 8 bytes (vs 8·num_hashes for MinHash):\n"
        "  the cheapest near-dup shuffle possible at 10^12 docs.",
    ))

    emb_text_plan = explain_str(
        embedding_near_duplicates(
            with_text_embedding(docs.limit(200)), dim=64, threshold=0.99,
            id_col="doc_id",
        )
    )
    sections.append((
        "Text-native embedding near-dup (text → vectors → LSH cosine)",
        emb_text_plan,
        "- Embedding + LSH bucket are TWO ArrowEvalPython stages fused over\n"
        "  the scan (map-only, no exchange before bucketing).\n"
        "- The pair join shuffles on the 64-bit bucket; cosine is Catalyst\n"
        "  `zip_with`/`aggregate` — no Python in the verify.",
    ))

    topk_salted_plan = explain_str(
        per_codec_top_k(
            docs.select(F.col("doc_id").cast("string").alias("clip_id"),
                        F.lit("pcm16").alias("codec"),
                        F.col("n_chars").alias("dur_ms")), k=5)
    )
    sections.append((
        "Salted per-key top-k (two-phase window, skew mitigation)",
        topk_salted_plan,
        "- TWO Window stages: the first partitions by (codec, salt) — a hot\n"
        "  codec splits across salt_mod window tasks, each keeping k rows —\n"
        "  the second ranks the <= salt_mod*k survivors per codec.\n"
        "- The first exchange hashes (codec, salt): no single reducer ever\n"
        "  receives a whole hot key; the second exchange carries only\n"
        "  survivors (bounded, tiny).\n"
        "- Bonus from Catalyst: the row_number<=k filter becomes a\n"
        "  `WindowGroupLimit` BELOW the exchange too (map-side partial\n"
        "  top-k), so even the phase-1 shuffle carries at most k rows per\n"
        "  (mapper, codec, salt) — rank-limit pushdown for free.",
    ))

    from top_secret_spark.operators.audio import with_audio_keep_drop
    from top_secret_spark.sources.clips import gate_clips_df

    gate_plan = explain_str(with_audio_keep_drop(gate_clips_df(spark, 240)))
    sections.append((
        "Audio-quality keep/drop gate (decode features → Catalyst rules)",
        gate_plan,
        "- ONE MapInPandas above the generator/scan does decode + ALL five\n"
        "  features (rms/zcr/dur/silence/clipping) in a single Arrow\n"
        "  crossing; the keep/drop CASE is a codegen'd Project above it.\n"
        "- Zero exchanges: the gate is map-only, so it scales with input\n"
        "  splits exactly like the text pipeline.\n"
        "- The bytes column dies at the decode boundary — nothing above it\n"
        "  carries multi-KB payloads.",
    ))

    from top_secret_spark.operators.sampling import stratified_sample

    sample_plan = explain_str(stratified_sample(
        docs, {"en": 0.1, "de": 0.5}, strata_col="lang", key_col="doc_id",
        default_fraction=0.25,
    ))
    sections.append((
        "Deterministic stratified sample (key-hash filter)",
        sample_plan,
        "- The whole operator is a codegen'd Filter directly above the\n"
        "  scan: xor-fold + multiply + threshold CASE, no Python, no\n"
        "  exchange, no RNG state.\n"
        "- Sampling decisions depend only on row keys, so the same rows\n"
        "  are kept on any cluster size or partitioning — required for\n"
        "  reproducible train/holdout splits.",
    ))

    import shutil
    import tempfile

    from top_secret_spark.operators.dedup import dedup_against_corpus
    from top_secret_spark.sources.bucketed import (
        read_table,
        write_fingerprint_index,
    )

    idx_root = tempfile.mkdtemp(prefix="tss_plans_idx_")
    try:
        write_fingerprint_index(
            docs, "tss_plans_idx", 8, path=f"{idx_root}/idx"
        )
        batch = docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
        prev_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            incr_plan = explain_str(
                dedup_against_corpus(batch, read_table(spark, "tss_plans_idx"))
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thr)
        sections.append((
            "Incremental dedup vs bucketed corpus index (anti-join reads buckets in place)",
            incr_plan,
            "- The corpus side of the LeftAnti is a bucketed FileScan\n"
            "  (`Bucketed: true`, `SelectedBucketsCount`) feeding the join\n"
            "  through a Sort only — NO Exchange above it.  At 10^12 index\n"
            "  rows that is the exchange that matters; the surviving\n"
            "  exchanges all carry the (small) incoming batch.\n"
            "- Broadcast is disabled here to show the big-big regime; at\n"
            "  real scale the index can never broadcast.\n"
            "- Only (fingerprint, id) longs move — document text never\n"
            "  enters a shuffle.",
        ))
    finally:
        spark.sql("DROP TABLE IF EXISTS tss_plans_idx")
        shutil.rmtree(idx_root, ignore_errors=True)

    from top_secret_spark.operators.audio import audio_near_duplicates
    from top_secret_spark.sources.clips import neardup_clips_df

    audio_nd_plan = explain_str(
        audio_near_duplicates(neardup_clips_df(spark, 60, partitions=4))
    )
    sections.append((
        "Cross-codec audio near-dup (energy-band candidates → pairwise-SNR verify)",
        audio_nd_plan,
        "- ONE MapInPandas decode pass emits the cheap features; the\n"
        "  candidate keys (sr, duration, double-banded log-energy) are a\n"
        "  codegen'd Project + Generate(explode) above it.\n"
        "- Candidate expansion is a self-JOIN on the key (the LSH shape) —\n"
        "  a mega-bucket goes through join machinery + AQE, never a\n"
        "  collect_list blowup on one row.\n"
        "- The expensive pair decode (ArrowEvalPython over bytes pairs)\n"
        "  sits ABOVE the candidate join and below the SNR filter: only\n"
        "  candidate pairs are decoded, and raw PCM never shuffles — the\n"
        "  joins carry clip ids and re-read bytes from the source.",
    ))

    from top_secret_spark.operators.audio import chunked_clips, resampled_clips
    from top_secret_spark.sources.clips import resample_clips_df

    rs_src = resample_clips_df(spark, 60, partitions=4)
    sections.append((
        "Fixed-window clip chunking (pure Catalyst, zero decode)",
        explain_str(chunked_clips(rs_src, max_dur_ms=1000)),
        "- NO Python anywhere: fixed-bytes-per-sample codecs make a\n"
        "  sample-aligned chunk a byte slice, so the operator is a\n"
        "  codegen'd Project + Generate(explode(sequence)) + substring\n"
        "  directly above the source.\n"
        "- Zero exchanges — chunking 10^12 clips runs at scan speed and\n"
        "  scales with input splits; a decode-based chunker would pay two\n"
        "  codec passes for a structural transform needing neither.",
    ))
    sections.append((
        "Uniform-rate resample (batched decode→interp→re-encode)",
        explain_str(resampled_clips(rs_src, 16000)),
        "- ONE MapInPandas does decode + resample + pcm16 re-encode for\n"
        "  the whole Arrow batch (one concatenated kernel pass per codec\n"
        "  present); metadata rewrite is in the same crossing.\n"
        "- Map-only: no exchange, no driver involvement — the resample of\n"
        "  a 10^12-clip corpus is embarrassingly parallel and this plan\n"
        "  keeps it that way.",
    ))

    from top_secret_spark.operators.audio import split_clips_on_silence, trimmed_clips
    from top_secret_spark.sources.clips import segment_clips_df

    sections.append((
        "Endpoint trim + utterance segmentation (map-only byte slicing)",
        explain_str(
            split_clips_on_silence(
                trimmed_clips(segment_clips_df(spark, 60, partitions=4)),
                min_gap_ms=25,
            )
        ),
        "- The whole trim→segment chain is two MapInPandas nodes directly\n"
        "  above the source: decode runs only to FIND bounds; output\n"
        "  payloads are byte slices of the original bytes (codec\n"
        "  preserved, zero re-encode loss).\n"
        "- Zero exchanges — both transforms are embarrassingly parallel\n"
        "  at 10^12 clips; the row-count change (segments per clip) stays\n"
        "  inside the task.",
    ))

    from top_secret_spark.operators.dedup import dedup_lines, flag_contaminated

    docs_small = spark.read.parquet(f"{SF}/documents.parquet")
    sections.append((
        "Cross-corpus line dedup (C4-style boilerplate strip)",
        explain_str(dedup_lines(docs_small)),
        "- Winner per line = groupBy(line).min(struct(id,pos)) with\n"
        "  partial_min map-side: a boilerplate line repeated 10^9 times\n"
        "  combines locally instead of serializing one reducer (the\n"
        "  skew-safe alternative to a row_number window over the line).\n"
        "- The winner rows ARE the surviving lines — reassembly is one\n"
        "  groupBy(id) ordered concat, no verify join; the only joins are\n"
        "  the final id-keyed reattach to the untouched columns.",
    ))
    from top_secret_spark.operators.dedup import dedup_spans

    sections.append((
        "C4 span dedup (composite-key anti-join for losers)",
        explain_str(dedup_spans(docs_small)),
        "- Spans are a codegen'd transform(sequence) over the split\n"
        "  array — no explode-then-window, no per-doc Python.\n"
        "- Winner per span: groupBy(span).min(struct) with partial_min\n"
        "  map-side (hot spans combine locally); losers come from a\n"
        "  LEFT-ANTI join on the composite (span, id, pos) key, which is\n"
        "  near-unique — a boilerplate span repeated 10^9 times spreads\n"
        "  across join tasks instead of serializing one partition.\n"
        "- Removal explodes to (id, pos) longs; the rebuild is one\n"
        "  groupBy(id) ordered concat + the id-keyed reattach join.",
    ))
    bench_df = docs_small.limit(3).select("text")
    sections.append((
        "Benchmark decontamination (broadcast n-gram probe)",
        explain_str(flag_contaminated(docs_small, bench_df)),
        "- The benchmark side's distinct n-grams BROADCAST (eval sets are\n"
        "  small by definition); the corpus probes the hash table in a\n"
        "  BroadcastHashJoin — no shuffle of corpus text at all.\n"
        "- Match verified on the n-gram STRING carried by the broadcast\n"
        "  row, so a 64-bit hash collision cannot falsely condemn a\n"
        "  document; the only exchange is the per-doc hit-count groupBy\n"
        "  on 8-byte ids.",
    ))

    from top_secret_spark.operators.audio import (
        time_masked_clips,
        with_spectral_features,
    )
    from top_secret_spark.operators.packing import shard_by_size
    from top_secret_spark.operators.quality import quality_rule_audit
    from top_secret_spark.operators.sampling import temperature_sample
    from top_secret_spark.sources.clips import clips_df

    aclips = clips_df(spark, 200, with_audio=True, partitions=4)
    sections.append((
        "Spectral features (blocked batch FFT)",
        explain_str(with_spectral_features(aclips)),
        "- Scan -> ONE ArrowEvalPython -> project: zero exchanges; the\n"
        "  `bytes` column dies inside the stage (not re-serialized to\n"
        "  downstream operators).\n"
        "- Inside the UDF: per-(codec, sr) concatenated decode, every\n"
        "  frame of every clip gathered into one matrix, one\n"
        "  np.fft.rfft per 64 MiB block, reduceat pooling — the FFT\n"
        "  cost is a handful of numpy calls per Arrow batch regardless\n"
        "  of clip count.",
    ))
    sections.append((
        "Time masking (pure-Catalyst byte splice)",
        explain_str(time_masked_clips(aclips, mask_ms=200)),
        "- NO EvalPython, NO Exchange in the OPERATOR: the MapInPandas\n"
        "  below is the synthetic clip GENERATOR (a parquet scan in\n"
        "  production); the mask itself is the codegen'd Project above\n"
        "  it — substring + unhex(repeat(hex)) + concat, so masking\n"
        "  10^12 clips runs at scan speed and pipelines into any\n"
        "  downstream stage.\n"
        "- Placement is pmod(key, positions) on a key column — a row\n"
        "  property, reproducible on any partitioning.",
    ))
    sections.append((
        "Size-balanced sharding (two-phase prefix sum)",
        explain_str(shard_by_size(docs_small, 4096, order_col="doc_id",
                                  size_col="n_chars")),
        "- One range exchange (the ordering requirement), per-partition\n"
        "  window, then a BroadcastHashJoin adding the per-partition base\n"
        "  offsets — never a single-partition global window.\n"
        "- Driver traffic is one row per partition (the totals), bounded\n"
        "  by the partition count, not the data.",
    ))
    sections.append((
        "Temperature rebalancing (map-only hash filter)",
        explain_str(temperature_sample(docs_small, "lang", alpha=0.5)),
        "- After the one bounded (stratum, count) aggregation at plan\n"
        "  time, the sample itself is Filter-above-Scan: the CASE\n"
        "  threshold and the xor-fold/Knuth hash are codegen'd, zero\n"
        "  exchanges, decisions independent of layout.",
    ))
    sections.append((
        "Quality-rule firing audit",
        explain_str(quality_rule_audit(docs_small.select(
            F.col("doc_id"), F.col("text").alias("transcript")))),
        "- All rule signals are codegen'd Catalyst expressions computed\n"
        "  once per row; the ONLY exchange is the groupBy on the short\n"
        "  fired-combination string (cardinality <= 2^n_rules) with\n"
        "  map-side partial aggregation.",
    ))

    from top_secret_spark.operators.audio import (
        merge_segments,
        noise_mixed_clips,
        split_clips_on_silence,
    )

    sections.append((
        "Noise mixing (deterministic augmentation)",
        explain_str(noise_mixed_clips(aclips, snr_db=20.0)),
        "- One ArrowEvalPython stage; the xxhash64 noise key is computed\n"
        "  JVM-side below it, so the Python worker never sees ids twice.\n"
        "- Inside the UDF: per-codec concatenated decode, reduceat power,\n"
        "  counter-based splitmix64 noise in clip-aligned cache-sized\n"
        "  blocks — noise is a row property, identical on any layout.",
    ))
    sections.append((
        "Segment merging (per-clip window + Catalyst concat)",
        explain_str(merge_segments(
            split_clips_on_silence(aclips, min_gap_ms=200), 2000)),
        "- Window partitioned BY CLIP (bounded per-key work, never a\n"
        "  global orderBy window), then one hash aggregate on\n"
        "  (clip, group); the payload merge is aggregate()/transform()\n"
        "  over the sorted struct array — codegen'd, no Python.\n"
        "- Only segment rows shuffle; assignment is offset-based, so a\n"
        "  segment longer than the window keeps its own group.",
    ))

    from top_secret_spark.operators.audio import transcode_clips
    from top_secret_spark.operators.importance import (
        importance_weights,
        with_importance_weight,
    )
    from top_secret_spark.operators.text_analysis import (
        collapse_repeated_lines,
        top_terms,
    )

    sections.append((
        "Codec transcoding (batched decode → whole-buffer encode)",
        explain_str(transcode_clips(aclips, "ulaw")),
        "- One ArrowEvalPython stage, zero exchanges: map-only transform\n"
        "  that pipelines into any downstream stage at any scale.\n"
        "- Inside the UDF: one concatenated decode per SOURCE codec per\n"
        "  Arrow batch + ONE companding transform over the whole buffer;\n"
        "  rows already in the target codec never decode at all.",
    ))
    sections.append((
        "Within-doc repetition removal (pure-Catalyst first-seen filter)",
        explain_str(collapse_repeated_lines(docs_small)),
        "- NO EvalPython, NO Exchange: split → higher-order filter\n"
        "  (array_position over the line's prefix) → array_join, all\n"
        "  inside the codegen'd Project — the operator runs at scan\n"
        "  speed on 10^12 docs.\n"
        "- Per-doc cost is O(lines²) codegen'd comparisons — bounded by\n"
        "  document size, not corpus size; no state leaves the row.",
    ))
    sections.append((
        "Top-k n-gram vocabulary (partial agg + TakeOrderedAndProject)",
        explain_str(top_terms(docs_small, k=10, n=2)),
        "- Explode is map-side; HashAggregate runs partial_count BEFORE\n"
        "  the exchange, so the shuffle carries one (term, count) per\n"
        "  term per mapper — never token instances.\n"
        "- orderBy+limit compiles to TakeOrderedAndProject: per-partition\n"
        "  k-row heaps merged on the driver, NO global sort of the\n"
        "  vocabulary at any corpus size.",
    ))
    imp_w = importance_weights(docs_small.limit(50), docs_small, dim=512)
    sections.append((
        "DSIR importance scoring (broadcast weights, id-bucket shuffle)",
        explain_str(with_importance_weight(docs_small, imp_w, dim=512)),
        "- The fitted log-ratio table (<= dim rows) BROADCASTS into the\n"
        "  scoring join; the exploded side carries only (id, bucket)\n"
        "  pairs — text never reaches an exchange.\n"
        "- groupBy(id) aggregates partially map-side; the final\n"
        "  co-partitioned id join rebuilds the original columns (same\n"
        "  rebuild shape as dedup_lines).",
    ))

    from top_secret_spark.operators.audio import with_log_mel
    from top_secret_spark.sources.clips import spectral_clips_df

    sections.append((
        "Log-mel filterbank extraction (map-only feature front-end)",
        explain_str(
            with_log_mel(spectral_clips_df(spark, 64, partitions=4))
            .select("clip_id", "n_mel_frames", "mel_argmax_hz")
        ),
        "- ONE `MapInPandas` node and ZERO Exchanges — feature extraction\n"
        "  is embarrassingly parallel; throughput scales with cores.\n"
        "- `bytes` is dropped inside the operator (the mel matrix REPLACES\n"
        "  the waveform downstream), so the stage's output width shrinks\n"
        "  rather than doubling — no write amplification at the sink.\n"
        "- The FFT work is one blocked `rfft` + one mel matmul per\n"
        "  (codec, sr) group per Arrow batch; the filterbank is a pure\n"
        "  function of (sr, frame, n_mels) — no broadcast, no state.",
    ))

    from top_secret_spark.operators.repetition import (
        repetition_drop_reason_col,
        with_repetition_signals,
    )

    sections.append((
        "Gopher repetition signals (zero-shuffle Catalyst scans)",
        explain_str(
            with_repetition_signals(docs).withColumn(
                "reason", repetition_drop_reason_col()
            ).select("doc_id", "dup_line_frac", "top_ngram_char_frac_2",
                     "dup_ngram_char_frac_5", "reason")
        ),
        "- Per-document signals never leave the row: array_sort + ONE\n"
        "  Catalyst `aggregate` run-length scan per n — Projects over the\n"
        "  scan only, ZERO Exchange, zero Python at any corpus size.\n"
        "- The explode -> groupBy(doc, term) alternative would shuffle\n"
        "  every token instance of a 100 TB corpus to compute a\n"
        "  row-local number; this plan shuffles nothing.",
    ))

    from top_secret_spark.operators.sampling import select_until_budget
    from top_secret_spark.operators.text_analysis import (
        whitespace_token_count,
    )

    sections.append((
        "Token-budget selection (two-phase prefix sum, no global window)",
        explain_str(
            select_until_budget(
                docs.withColumn(
                    "toks", whitespace_token_count("text").cast("long")
                ),
                budget=10_000, value_col="toks",
                priority_cols=["n_chars", "doc_id"],
            )
        ),
        "- The cumulative sum is the pack_sequences two-phase prefix sum:\n"
        "  range partition by the priority struct -> per-PARTITION window\n"
        "  -> one-row-per-partition totals join.  `Window` appears only\n"
        "  partitioned by `_pid` — there is NO empty-partitionBy window\n"
        "  dragging the corpus through one task.\n"
        "- Selection itself is a codegen'd Filter; the budget is enforced\n"
        "  with exact bigint arithmetic.",
    ))

    from top_secret_spark.operators.audio import with_bandwidth
    from top_secret_spark.operators.dedup import flag_contaminated_fuzzy
    from top_secret_spark.sources.clips import bw_clips_df

    sections.append((
        "Effective-bandwidth probe (map-only, shared decode scaffold)",
        explain_str(
            with_bandwidth(bw_clips_df(spark, 64, partitions=4))
            .select("clip_id", "rolloff_hz", "upsampled_suspect")
        ),
        "- ONE `MapInPandas`, ZERO Exchanges — the upsampling detector\n"
        "  rides the same per-(codec, sr) batched-decode scaffold as\n"
        "  log-mel/MFCC/SNR (kernel.audio.decode_sr_groups), so the four\n"
        "  feature operators share one audited code path.\n"
        "- The per-clip pooled spectrum is one axis-0 reduceat over the\n"
        "  blocked frame-power matrix; the q-quantile bin is a vectorized\n"
        "  cumsum + argmax — no per-clip Python anywhere.",
    ))

    bench_small = docs.limit(10).select("text")
    sections.append((
        "Fuzzy decontamination (corpus x benchmark LSH join)",
        explain_str(
            flag_contaminated_fuzzy(docs, bench_small, threshold=0.9)
            .select("doc_id", "contaminated_fuzzy", "n_bench_near")
        ),
        "- The corpus NEVER self-joins and its text never rides an\n"
        "  exchange: signatures are computed once (persisted — the UDF is\n"
        "  the dominant cost), the BENCHMARK side's bands and signatures\n"
        "  BROADCAST (eval sets are small by contract), and the verify\n"
        "  step compares fixed-width signatures only.\n"
        "- Output rows return to the caller via one groupBy + left join\n"
        "  on the 8-byte id — per-doc flag + count, nothing wider.",
    ))

    lines = [
        "# PLANS — physical-plan review of the flagship operators",
        "",
        "Generated by `tools/explain_plans.py` (rerun after plan changes).",
        "Commentary records WHY each plan is the one we want at 100 TB.",
        "",
    ]
    for title, plan, commentary in sections:
        lines += [f"## {title}", "", commentary, "", "```", plan.strip(), "```", ""]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
