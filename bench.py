#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {"q001": sec, ...}, "cold": {"q001": sec, ...}, "sf": 0.1}

Two-pass protocol (round-14): PASS 1 runs EVERY query once — that is
both the cold/first-touch timing and a whole-suite JVM/codegen warmup,
so no warm rep ever absorbs cross-entry session warmup; PASS 2 runs
three warm repetitions per query, extended adaptively to five when the
rep spread exceeds 2x (box-interference guard — entries that needed it
are listed under "adaptive_reps").  "queries" reports the MINIMUM warm
rep so the headline is robust to box noise — round 3's artifact showed
a uniform ~2x inflation across every query under the 1-rep harness,
which a min-of-warm-reps headline makes structurally impossible.
"cold" keeps the first-touch number for plan-compile-cost visibility.

Mirrors the reference's benchmark loop (timed runs per query,
results/<q>/<mode>/time.txt) — see dblab_ece_trino_spark/bench/harness.py
for the full results/explain/time capture parity.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WARM_REPS = 3

HEADLINE = [
    "q001",
    "q002",
    "q003",
    "q004",
    "q005",
    "tpch_q1",
    "tpch_q18",
    "op_agg_groupby",
    "op_join_shuffle",
    "dedup_minhash_lsh",
    "sim_search_bruteforce",
    "text_quality_score",
    # round-3 additions (appended so prior rounds stay comparable)
    "tpch_q8",
    "tpch_q20",
    "sample_stratified",
    "llm_repetition_profile",
    "op_click_attribution",
    "op_upsert_latest",
    # round-3 late additions (appended so prior rounds stay comparable)
    "llm_bigram_lm_score",
    "ts_zscore_anomaly",
    # round-4 additions: the fused curation pipeline, one
    # analytics-pack representative, and two behavior-pack flagships
    "pipeline_curate_corpus",
    "op_equidepth_hist",
    "op_funnel_conversion",
    "text_bm25_score",
    # round-5 additions: iterative graph op (the only multi-shuffle
    # loop in the headline set) and the vocabulary-collapsed BPE miner
    "graph_pagerank",
    "llm_bpe_merges",
    # round-5 late additions: Count-Min build+probe (the md5-heavy
    # sketch), BFS traversal loop, CDC merge-on-read resolution,
    # int8-quantized MIPS
    "op_count_min_heavy_hitters",
    "graph_shortest_path",
    "wh_cdc_apply",
    "sim_quantized_mips",
    # round-5 final additions: the prefix-filter similarity join (the
    # exact no-cap dedup tier), k-core peeling loop, and the
    # histogram-form MAD (shared discrete-percentile machinery)
    "dedup_prefix_filter",
    "graph_kcore",
    "op_mad_outliers",
    # round-6 additions: the ops newly seated in the grade window this
    # round — hopping window (native sliding window), sharded quantile
    # normalization, GDPR erasure audit, and the containment join on
    # its new asymmetric prefix-filter plan (127s -> ~17s at sf0.1)
    "op_hopping_window",
    "llm_quantile_normalize",
    "wh_gdpr_erasure",
    "dedup_containment",
    # round-6 new operators
    "ts_theil_sen",
    "op_boxplot_stats",
    "op_concurrency_sweep",
    "sim_epsilon_ball",
    "multimodal_bmp_decode",
    "graph_assortativity",
    "text_char_diversity",
    # round-6 late additions: IVM, clustering depth, the statistics
    # pack (Benford, chi2, Kendall tau, KS, Mann-Whitney), grouped
    # holdout, local clustering coefficient, sharded-rank Gini
    "wh_incremental_agg",
    "wh_clustering_depth",
    "op_benford_test",
    "op_chi2_independence",
    "ts_kendall_tau",
    "op_ks_test",
    "op_mann_whitney",
    "sample_group_holdout",
    "graph_clustering_coeff",
    "op_gini_spend",
    "sample_contamination_rate",
    "op_abc_pareto",
    # round-7 additions: the literal-reference-SQL parity summary (10
    # generator-sf1 runs under two parallelism modes), the native PNG
    # codec (zlib inflate + five-filter reconstruction), the native Y4M
    # video codec (stride-seek frame sampling), and the KMV distinct
    # sketch (cross-engine-replayable estimate)
    "reference_sql_parity",
    "multimodal_png_decode",
    "multimodal_y4m_frames",
    "op_kmv_distinct",
    # ... and the native GIF codec (real variable-width LZW + interlace)
    "multimodal_gif_decode",
    # round-8 additions: the BPE ENCODER (vocabulary-collapsed merge
    # application, per-doc exact token counts) and the native baseline
    # JPEG codec (Huffman + IDCT + 4:2:0, restart markers)
    "llm_bpe_encode",
    "multimodal_jpeg_decode",
    # round-9 additions: the IMA-ADPCM audio codec, the non-zero-AC
    # JPEG family (Huffman-AC + ZRL + full IDCT under the gate), and
    # concat-then-chunk sequence packing (two-phase-rank token offsets)
    "multimodal_adpcm_decode",
    "multimodal_jpeg_ac_decode",
    "llm_sequence_pack",
    # ... and the integer-exact HyperLogLog register fold plus the
    # duplicated n-gram span-coverage measure (one row per corpus
    # token through a bigint-keyed aggregation)
    "op_hll_distinct",
    "llm_dup_span_coverage",
    # round-9 late additions: the G.711 mu-law/A-law telephony codec
    # (ninth native codec, second+third compressed audio formats),
    # bipartite HITS (six materialized half-steps, broadcast L1
    # totals), and the one-fact-pass padding-waste audit
    "multimodal_g711_decode",
    "graph_hits",
    "llm_pad_waste",
    # ... and Y4M shot-boundary detection (consecutive-frame luma SAD)
    # plus Neyman-optimal stratified allocation (one 3-moment fact
    # pass) and windowed audio energy/VAD stats
    "multimodal_scene_cut",
    "sample_neyman_alloc",
    "multimodal_audio_energy",
    # ... and MOSS winnowing fingerprint candidate pairs (packed-key
    # single-window argmin, df-capped fingerprint join) and the
    # baseline TIFF/PackBits codec (tenth native codec)
    "text_winnowing",
    "multimodal_tiff_decode",
    # ... and the Hampel median/MAD despiking filter (bounded centered
    # ROWS frame, integer element selections), quantile-breakpoint RFM
    # segmentation, and integer-ppm market-basket association rules
    "ts_hampel_filter",
    "op_rfm_segments",
    "op_assoc_rules",
    # ... and SAX series symbolization (single-scan PAA + window-total
    # z-moments over the 8-row segment frame) plus DBSCAN over the
    # quantized eps-graph (integer cross-multiplied thresholds)
    "ts_sax_words",
    "sim_dbscan",
    # ... and EXIF metadata extraction (APP1/TIFF IFD walk shared with
    # the TIFF codec) plus the MASE forecast backtest
    "multimodal_exif_parse",
    "ts_mase_eval",
    # round-10 additions: the ANN recall@k scoreboard (exact integer
    # hit counts of LSH/IVF against brute force, floors in ppm) and the
    # batch twin of the custom stateful sessionizer (Arrow applyInPandas)
    "sim_recall_at_k",
    "op_sessionize_batch",
    # ... and the Gopher character-coverage repetition filters (one
    # explode over the n in 2..6 gram stream, integer ppm coverage)
    "llm_gopher_repetition",
    # ... and the QOI codec (eleventh native format: stateful
    # hash-index byte stream, all six chunk ops under the gate)
    "multimodal_qoi_decode",
    # ... and the nearest-direction as-of join (both directional fills
    # over one exchange, backward-wins-ties distance pick)
    "join_asof_nearest",
    # ... and the Western Electric SPC rule flags (integer sigma
    # tests via DECIMAL(38,0)/HUGEINT cross-multiplication)
    "ts_spc_rules",
    "ts_ordinal_patterns",
    # ... and truncated harmonic centrality (multi-source BFS — K
    # seeds ride one join per level, integer ppm reciprocal distances)
    "graph_harmonic_centrality",
    # ... and Newman-Girvan modularity of the brand partition
    # (exact-integer ppm, sign-guarded floor division)
    "graph_modularity",
    # ... and the Kaplan-Meier / Nelson-Aalen time-to-second-purchase
    # life table (right-censored, all-integer hazards)
    "op_survival_hazard",
    # ... and RAKE keyphrase extraction (degree/frequency word scores
    # in exact ppm over the materialized phrase frame)
    "text_rake_keyphrases",
    # ... and maximum drawdown (running-peak windows, packed argmax)
    "ts_max_drawdown",
    # ... and systematic every-k-th sampling on the hashed order
    # (two-level sharded global rank)
    "sample_systematic",
    # ... and the skewness/kurtosis moment profile (anchored integer
    # power sums, one IEEE finale)
    "op_moments_profile",
    # ... and the TGA codec family (twelfth native format: RLE packets,
    # BGR order, bottom-up rows, v2 footer detection)
    "multimodal_tga_decode",
    # ... and perceptual aHash image near-dup (decode -> 64-bit block
    # fingerprint -> Hamming pairs)
    "dedup_image_ahash",
    # ... and the VACUUM/retention reclaim planner over the shared CDC
    # log (per-key keep-floor window)
    "wh_vacuum_planner",
    # ... and the IVF recall-vs-nprobe sweep (one index build, nested
    # probe sets, monotone-hits verdicts)
    "sim_ivf_probe_sweep",
    # ... and histogram equalization (decode + exact integer CDF remap
    # in one Arrow pass; relational oracle)
    "multimodal_hist_equalize",
    # ... and the BPE compression curve (all merge-prefix points in one
    # |V|-row projection)
    "llm_bpe_compression_curve",
    # ... and DAU/MAU stickiness (bounded 28-day explode, no range
    # self-join)
    "op_user_stickiness",
    # ... and decimate-by-2 audio downsampling (offset-nonnegative
    # integer boxcar, one Arrow pass)
    "multimodal_audio_decimate",
    # ... and top-k journey paths (one rank window, bounded path frame)
    "op_top_paths",
    # ... and the event-chain stationary distribution (integer power
    # method on the |types|^2 frame)
    "op_markov_stationary",
    # ... and two-stage cluster sampling (partition-pruning stage-1)
    "sample_cluster",
    # ... and the hapax-legomena diversity profile (one keyed count)
    "text_hapax_ratio",
    # ... and the LSH banding-funnel scoreboard (stage monotonicity,
    # precision floor, repeated-squaring S-curve vs ground truth)
    "dedup_lsh_precision",
    # ... and the per-(lang, source) tokenizer fertility audit riding
    # the exact BPE encoder (integer ppm tokens/word, chars/token)
    "llm_tokenizer_fertility",
    # round-11 additions: the removal half of exact-substring dedup
    # (coverage's interval union -> JVM-side HOF cut -> reassembled text)
    "llm_dup_span_removal",
    # ... deletion-vector merge-on-read scan (anti join on (file, pos)
    # + run-length profile of the delete bitmap)
    "wh_deletion_vectors",
    # ... resource-allocation link prediction (wedge join + broadcast
    # degree + anti join vs the edge list, exact integer e6 scores)
    "graph_link_prediction",
    # ... cross-series Pearson matrix (zero-filled day grid, exact
    # integer sign + r^2 ppm via HUGEINT/DECIMAL(38,0) floor division)
    "ts_pairwise_correlation",
    # ... the PCX codec (thirteenth native format: plane-interleaved
    # byte RLE, even bytes-per-line pad, literal-as-run rule)
    "multimodal_pcx_decode",
    # ... ViT-style patch tiling (decode + 8x8 tile + exact per-patch
    # stats in one Arrow pass, truncated edge tiles)
    "multimodal_image_tile",
    # ... audio peak normalization (per-file integer gain_ppm,
    # absolute-value floor form, post-gain peak/RMS stats)
    "multimodal_audio_normalize",
    # ... kNN majority-vote classification over the quantized-MIPS
    # ranking (broadcast labels, one tiny keyed vote)
    "sim_knn_classify",
    # ... Zipf rank-frequency profile (WindowGroupLimit top-k over the
    # materialized vocabulary, exact cumulative ppm shares)
    "text_rank_frequency",
    # ... bounded-gap sequential patterns (four leads off one window
    # pass, inline-exploded combos, |types|^3-bounded output)
    "op_sequential_patterns",
    # ... balanced class downsampling (two-level sharded per-class
    # rank, broadcast n_min, no single-partition window)
    "sample_balanced",
    # ... watermark-lateness audit (md5-jittered arrival order, exact
    # microsecond lateness, constant |buckets|-row output)
    "op_watermark_lateness",
    # ... HLL set algebra (registerwise-max union + inclusion-exclusion
    # intersection on integer register states)
    "op_hll_intersection",
    # ... Katz centrality (attenuated path counts, integer per-edge
    # floor alpha=1/8, L1-normalized BIGINT output)
    "graph_katz_centrality",
    # ... time-based train/test split + user-leakage audit (calendar
    # cutoff from one min/max aggregate, no global rank)
    "sample_time_split",
    # ... the Sun Raster codec (fourteenth native format: big-endian
    # header, BGR order, 16-bit row pad, RT_BYTE_ENCODED RLE)
    "multimodal_sunras_decode",
    # ... chi-square vocabulary drift monitor (cross-multiplied
    # HUGEINT/DECIMAL(38,0) contingency statistic, distributed top-k)
    "text_vocab_drift",
    # ... degree-distribution audit (power-of-two buckets, exact
    # endpoint shares, the sum-deg^2 wedge-cost scalar)
    "graph_degree_distribution",
    # round-12 additions: the fuzzy-dedup REMOVAL half (keeper per
    # LSH cluster, one keyed rank) ...
    "dedup_cluster_keep",
    # ... and the train-serve leakage audit (per-(type,user) feature
    # key cutoff crossing, algebraic anti-join)
    "sample_leakage_audit",
    # ... DDSketch-style mergeable log-bucket quantile sketch
    "op_dd_quantiles",
    # ... rich-club hub-interconnection audit (per-edge min-degree
    # bucketing, no per-k join)
    "graph_rich_club",
    # ... declared-vs-predicted language confusion grid
    "text_lang_confusion",
    # ... ISO-weekday volume/revenue seasonality index
    "ts_weekday_profile",
    # ... deterministic 5-fold CV assignment + balance audit
    "sample_kfold",
    # ... embedding-space benchmark-contamination audit
    "sim_eval_contamination",
    # ... partition-spec migration fan-out/rewrite-volume audit
    "wh_partition_evolution",
    # ... ICO container (15th codec: ICONDIR walk, doubled-height
    # embedded BMP, PNG-in-ICO delegation, largest-entry pick)
    "multimodal_ico_decode",
    # ... stereo PCM downmix ((L+R)>>1 floor, sum/diff fixtures)
    "multimodal_audio_downmix",
    # ... Fano-factor burstiness audit (per-minute dispersion index,
    # one scan, grid via a |types|-row window)
    "ts_dispersion_index",
    # ... SFT chat-template assembly (slice/concat projection, md5
    # content checksum summed per source)
    "llm_sft_format",
    # ... near-duplicate split-leakage audit (LSH clusters x md5
    # split, cross-split pair volume)
    "sample_dedup_split_audit",
    # ... embedding-geometry cosine^2 histogram (integer quantized,
    # panel x hash-sample pairs — linear in the corpus)
    "sim_cosine_histogram",
    # ... correlated scalar + EXISTS subqueries (Catalyst
    # decorrelation surface, integer cross-multiplied above-mean test)
    "op_correlated_subquery",
    # ... Sun AU container (16th codec: big-endian header, honored
    # data offset, mu-law/pcm8/pcm16be dispatch)
    "multimodal_au_decode",
    # ... XBM ASCII C-source bitmap (17th codec: LSB-first bits,
    # X10 short variant, comment/whitespace-tolerant parser)
    "multimodal_xbm_decode",
    # ... AIFF container (18th codec: FORM/AIFF big-endian chunks,
    # 80-bit extended-float sample rate, SSND offset prelude)
    "multimodal_aiff_decode",
    # ... cross-source vocabulary Jaccard matrix (word-keyed pair
    # join over the materialized distinct vocab — never raw tokens)
    "text_source_jaccard",
    # ... Matryoshka truncated-dimension recall audit (per-prefix
    # integer top-k vs the full-dim reference, one corpus pass)
    "sim_matryoshka_recall",
    # ... FLAC lossless audio (19th codec: LPC/fixed prediction,
    # Rice/Rice2/escape residual partitions, CRC-8/16, stereo modes)
    "multimodal_flac_decode",
    # ... fused fuzzy-dedup pipeline (shared LSH build + cluster_keep
    # joined back to the corpus; per-source removal ledger)
    "pipeline_dedup_corpus",
    # ... per-prefix quantization-error calibration (integer fine-vs-
    # coarse code error sums over Matryoshka prefixes, one pass)
    "sim_matryoshka_quant",
    # ... turning-point census over the per-type daily series (the
    # integer trend-vs-noise diagnostic; ordinal patterns already ride
    # the r12 HEADLINE row)
    "ts_turning_points",
    # ... degree-tail doubling census + weighted transition reciprocity
    "graph_degree_tail",
    "graph_reciprocity",
    # ... Heaps-law vocabulary growth (window-free checkpoint sums)
    "text_heaps_law",
    # ... gaps-and-islands streaks + LATERAL correlated subquery
    "op_gaps_islands",
    "op_lateral_subquery",
    # ... recency-decayed deterministic sampling audit
    "sample_time_decay",
    # ... SFT loss-mask training-economy ledger (masked/trained/pad)
    "llm_loss_mask_stats",
    # ... tiered snapshot-retention planning (expire-snapshots replay)
    "wh_retention_policy",
    # ... theta-sketch audience-overlap estimation with exact audit
    "op_theta_sketch",
    # ... Church-Gale word burstiness (integer VMR over doc counts)
    "text_word_burstiness",
    # ... k-truss edge peeling (triangle-support refinement of k-core)
    "graph_ktruss",
    # round-14 additions: passage-grain near-dup (chunk LSH riding the
    # doc pipeline's banding machinery), personalized PageRank
    # (seed-conditioned restart mass), epoch-shuffle decorrelation
    # audit (sharded global ranks, exact integer Spearman), Holt
    # linear-trend smoothing (Spark 4 WITH RECURSIVE), and fractional
    # linear-interp audio resampling (8000 -> 5000 Hz, exact integer)
    "dedup_chunk_neardup",
    "graph_ppr",
    "sample_epoch_shuffle",
    "ts_holt_trend",
    "multimodal_audio_resample",
    # round-15 additions: Holt-Winters additive-seasonal forecasting
    # (m=7 weekday cycle, 7 rotating state columns in the recursion),
    # DCT perceptual image hash (all-integer 8x32 DCT-II basis, banded
    # Hamming join), content-defined chunking dedup (gear-CDC word
    # grain, shuffle-free HOF chunker), and one-way ANOVA F
    # (quantize-then-sum cross-group reduction)
    "ts_holtwinters",
    "dedup_image_phash",
    "dedup_cdc_chunks",
    "op_anova",
    # round-15 late addition: HyperANF neighborhood function (per-node
    # HLL reach sketches register-max-propagated along the shared
    # co-order edge build; integer-exact state per the r9 HLL entry)
    "graph_neighborhood_func",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from dblab_ece_trino_spark.session import EngineSession
    import __spark_entry__ as entrymod

    eng = EngineSession.get(app_name="bench")
    spark = eng.spark
    qs = entrymod.queries()

    # JVM/codegen warmup outside the timed region (first query otherwise
    # pays ~6s of one-time session cost and skews the smallest entry)
    spark.range(1000).selectExpr("sum(id)").collect()
    qs["q001"](spark, sf_dir).count()

    warm: dict[str, float] = {}
    cold: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    adaptive: list[str] = []
    live = [n for n in HEADLINE if n in qs]

    def run(fn) -> tuple[float, int]:
        t0 = time.monotonic()
        n = fn(spark, sf_dir).count()  # materialize, no driver transfer
        return time.monotonic() - t0, n

    # Shared one-per-(session, sf_dir) builds are triggered and timed
    # SEPARATELY before PASS 1 (round-14 advice): otherwise the first
    # consumer entry in HEADLINE silently absorbs the whole build in
    # its 'cold' figure while every later consumer excludes it, making
    # cold numbers run-order dependent and incomparable across
    # reorderings.  Eager materialization inside each shared_* builder
    # means the call itself performs the build.
    # queries() above imported every operator module, so the registry
    # holds every @shared_build builder.
    from dblab_ece_trino_spark.session import SHARED_BUILDS

    shared_builds: dict[str, float] = {}
    for label, build in SHARED_BUILDS.items():
        t0 = time.monotonic()
        try:
            build(spark, sf_dir)
        except Exception as exc:  # build failure must not kill the bench
            print(f"# shared build {label} failed: {exc}", file=sys.stderr)
            continue
        shared_builds[label] = round(time.monotonic() - t0, 3)
    print(f"# shared builds: {shared_builds}", file=sys.stderr)

    # PASS 1 — whole-suite warmup (round-13 verdict item 2): every
    # entry runs once BEFORE any warm rep is timed, so the recorded
    # reps never absorb cross-entry JVM/JIT/codegen warmup (the driver
    # takes showed a 20 s first rep on llm_gopher_repetition and
    # descending 10.5/8.4/5.8 s reps on text_vocab_drift — pure
    # session-warmup bleed under the old interleaved protocol).  The
    # pass is free: it IS the cold-timing pass the record already kept.
    for name in live:
        c, n = run(qs[name])
        cold[name] = round(c, 3)
        rows[name] = n

    # PASS 2 — warm reps, adaptive under box noise (round-13 verdict
    # item 2): 3 reps normally; when the max/min spread exceeds 2x the
    # entry gets up to 2 extra reps (min-of-5) and is annotated in the
    # record, so a single interference spike can't set the headline and
    # a persistent spread is visible to scripts/bench_diff.py.
    for name in live:
        fn = qs[name]
        # Big-SF warmup hardening (round-11 verdict item 8): at sf > 0.1
        # a single prior touch does not fully warm the heavy entries
        # (shuffle files, page cache, JIT tiers — the sf1 record showed
        # 28/20/7 s rep DECAY on graph_kcore), so one extra DISCARDED
        # rep precedes the recorded reps at sf > 0.1.
        if sf is not None and sf > 0.1:
            run(fn)
        r = [round(run(fn)[0], 3) for _ in range(WARM_REPS)]
        while max(r) > 2 * min(r) and len(r) < WARM_REPS + 2:
            if name not in adaptive:
                adaptive.append(name)
            r.append(round(run(fn)[0], 3))
        reps[name] = r
        warm[name] = min(r)
        flag = " [adaptive]" if name in adaptive else ""
        print(
            f"# {name}: cold {cold[name]}s, warm_min {warm[name]}s "
            f"reps {r} ({rows[name]} rows){flag}",
            file=sys.stderr,
        )

    # Full self-contained record -> committed file.  The driver keeps only
    # the last 2000 stdout chars, which the r6 full JSON overflowed
    # (BENCH_r06.json parsed:null, q001-q005 truncated) — so the file is
    # the primary artifact and the final stdout line is a compact JSON
    # (warm times only, ~1.5k chars for 56 queries) that always fits.
    repo = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for f in os.listdir(repo)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
    ]
    # only the driver's grading scale (sf0.1) claims the round-numbered
    # record — a dev smoke at sf0.001 must not clobber the committed
    # sf0.1 run, and a big-SF probe (e.g. the x10 replica ≈ sf1) gets
    # its own named record for SCALE.md dispositions
    if sf is not None and abs(sf - 0.1) < 1e-9:
        local_name = f"BENCH_LOCAL_r{(max(rounds, default=0) + 1):02d}.json"
    elif sf is not None and sf > 0.1:
        local_name = f"BENCH_LOCAL_sf{sf:g}.json"
    else:
        local_name = "BENCH_LOCAL_smoke.json"
    full = {
        "metric": "headline query set wall time (min of 3-5 warm reps)",
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        "n_queries": len(warm),
        "queries": warm,
        "cold": cold,
        "reps": reps,
        # output cardinalities — for the similarity joins these are the
        # verified pair counts, the denominator any per-pair cost claim
        # in SCALE.md divides by
        "rows": rows,
        "sf": sf,
        "sf_dir": sf_dir,
        "warm_reps": WARM_REPS,
        # entries whose 3-rep spread exceeded 2x and earned extra reps
        "adaptive_reps": sorted(adaptive),
        # one-per-(session, sf_dir) builds timed outside the per-entry
        # loop so 'cold' figures stay run-order independent (r14 advice)
        "shared_builds": shared_builds,
    }
    # exclusive create: a record never overwrites another; a taken name
    # gets the first free _<k> suffix
    stem, k = local_name[: -len(".json")], 1
    while True:
        try:
            fh = open(os.path.join(repo, local_name), "x")
            break
        except FileExistsError:
            local_name = f"{stem}_{k}.json"
            k += 1
    with fh:
        json.dump(full, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"# full record written to {local_name}", file=sys.stderr)
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": "sec",
        "n_queries": len(warm),
        "queries": warm,
        "sf": sf,
        "detail": local_name,
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # never overflow the driver's 2000-char tail
        # first fallback: 2-decimal per-query values (~10% shorter)
        compact["queries"] = {k: round(v, 2) for k, v in warm.items()}
        line = json.dumps(compact)
    if len(line) > 1900:
        compact.pop("queries")
        line = json.dumps(compact)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
