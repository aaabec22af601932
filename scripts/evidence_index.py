#!/usr/bin/env python3
"""Generate EVIDENCE.md: one row per registered query mapping operator
-> oracle kind -> pytest evidence -> plan-gate coverage (VERDICT r4
next #6). Run from anywhere; writes EVIDENCE.md at the checkout root. Regenerate
after changing the registry: the script asserts queries()/oracle_sql()
parity and fails if a composite mapping goes stale, so the committed
output can't silently rot.
"""
import importlib.util
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# composite registry entries -> constituent operators (keep in sync
# with the merged-registry comment in __spark_entry__.py; the assertion
# below fails if a listed composite disappears from the registry)
COMPOSITES = {
    "doc_fingerprint": ["doc_fingerprint (normalized md5)",
                        "doc_bpe_fingerprint (BPE tokens + rolling hash)"],
    "doc_token_stats": ["doc_token_stats (tokens/stopwords)",
                        "doc_repetition (Gopher dup/top 2-gram fracs)"],
    "doc_quality": ["doc_quality (length/letter/punct ratios)",
                    "doc_langid (n-gram language votes)"],
    "image_roundtrip": ["PNG roundtrip (lossless)",
                        "JPEG roundtrip (baseline, lossy tolerance)",
                        "GIF roundtrip (palette lossless)"],
    "mpeg_audio": ["mpeg_scan (no-decode frame-header scan)",
                   "mpeg_roundtrip (L1/L2/L3 self-consistent codecs, "
                   "incl. the r7 Layer III bit-reservoir/Huffman tier)",
                   "aac_roundtrip (AAC-LC-shaped ADTS codec, "
                   "scanned-frame-count oracle)"],
    "ann_partitions": ["ivf_assign (coarse quantization)",
                       "embedding_lsh_buckets (hyperplane LSH)",
                       "pq_code (trained product-quantization codes, "
                       "IVF-PQ layout)",
                       "pq_adc_topk (IVF-probed ADC top-k, nprobe=2)",
                       "semdedup_flags (trained k=8 clustering + "
                       "mega-cluster guard)"],
    "dedup_keeper": ["dedup_keeper (keeper election)",
                     "neardup_components (cluster labels, component col)"],
    "warc_roundtrip": ["WARC write/parse roundtrip",
                       "CDX offset-index contract (tile + range re-parse)"],
    "media_container_scan": ["AAC-ADTS scan", "H.264 Annex-B scan",
                             "MP4/ISO-BMFF box walk (incl. fragmented)",
                             "Ogg page walk + CRC", "FLAC STREAMINFO",
                             "WebM/Matroska EBML walk",
                             "IVF walk + VP9 uncompressed-header audit "
                             "(r7)"],
    "lm_perplexity": ["CCNet-style add-1 unigram LM perplexity",
                      "DSIR importance log-ratio + keep flag",
                      "CCNet head/middle/tail bucket (per-language "
                      "perplexity terciles, r7)"],
    "av_features": ["WAV FFT audio features", "Y4M frame sampling",
                    "h264_ipcm roundtrip (conformant lossless intra "
                    "tier, r7)",
                    "vp9_raw roundtrip (real RFC 6386 bool coder, "
                    "substituted model, r7)"],
    "tfidf_topterms": ["tfidf_topterms (per-doc TF-IDF top-3)",
                       "bm25_query (Okapi BM25 for a fixed retrieval "
                       "query, r7)"],
}


def main():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
    em = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(em)
    queries, oracles = em.queries(), em.oracle_sql()
    assert set(queries) == set(oracles), "queries()/oracle_sql() diverge"
    for c in COMPOSITES:
        assert c in queries, f"stale composite mapping: {c}"

    # map query name -> test files that mention it (or its function)
    test_dir = os.path.join(REPO, "tests")
    tests = {}
    for name, fn in queries.items():
        pats = {name, fn.__name__}
        hits = set()
        for pat in pats:
            try:
                out = subprocess.run(
                    ["grep", "-rl", pat, test_dir,
                     "--include=*.py"], capture_output=True, text=True)
                hits |= {os.path.basename(p)
                         for p in out.stdout.split() if p}
            except OSError:
                pass
        tests[name] = sorted(hits)

    lines = [
        "# EVIDENCE — operator → oracle → test → plan-gate index",
        "",
        "GENERATED by `scripts/evidence_index.py` — do not edit; "
        "regenerate after registry changes.",
        "",
        f"Registry: **{len(queries)} queries**, all with DuckDB oracle "
        "SQL (side-by-side value-hash check by the driver and "
        "`scripts/check_oracles.py`). The universal plan gate "
        "(`tests/test_plan_shapes.py`) screens EVERY registered query "
        "for BroadcastNestedLoopJoin / CartesianProduct / "
        "BatchEvalPython / single-partition exchanges / unallowlisted "
        "broadcast hints.",
        "",
        "| query | oracle | composite of | pytest evidence |",
        "|---|---|---|---|",
    ]
    for name in queries:
        comp = "<br>".join(COMPOSITES.get(name, ["—"]))
        # every registered query is screened by the universal plan gate
        extra = [t for t in tests[name] if t != "test_plan_shapes.py"]
        t = ", ".join(["test_plan_shapes.py (universal gate)"] + extra)
        lines.append(f"| {name} | SQL hash | {comp} | {t} |")
    lines += [
        "",
        "Suites beyond the registry: auto-ported reference suite "
        "(`tests/test_reference_suite.py`, 295/297 runnable), golden "
        "end-to-end (`tests/test_golden.py`), codec cross-validation vs "
        "Java ImageIO (`tests/test_jpeg.py`, `tests/test_gif.py`), "
        "spark-submit --py-files e2e (`tests/test_spark_submit.py`), "
        "batch resume + kill/resume components "
        "(`tests/test_spark_pipeline.py`, "
        "`tests/test_textops_streaming.py`), hostile-input fuzz across "
        "all codecs/containers (`tests/test_fuzz.py`, per-codec files).",
        "",
    ]
    out_path = os.path.join(REPO, "EVIDENCE.md")
    with open(out_path, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_path}: {len(queries)} queries")


if __name__ == "__main__":
    main()
