"""Generate QUERYBOOK.md from the live registry — the engine's analog of
the reference's discoverable function catalog
(/root/reference/railgun/router/RailgunRouter.go:60-65): one row per
registered query with gate status, oracle presence, tags, the latest
curated/full bench walls (BENCH_DETAIL.json / the newest
BENCH_ALL_r*.json) and the newest sf1 sweep ratio (SF1_ALL_r*.json),
plus each query's doc line.

Deterministic given the repo state (no timestamps), so
tests/test_querybook.py can pin the checked-in book to the registry:
edit a query or refresh a bench artifact without regenerating and one
targeted test fails.

Usage: python tools/make_querybook.py [--check]
  --check: exit 1 if QUERYBOOK.md is stale instead of rewriting it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _load_json(path: str):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _newest(pattern: str) -> str | None:
    """Highest round number wins (lexicographic on the zero-padded rNN)."""
    paths = sorted(glob.glob(os.path.join(REPO, pattern)))
    return paths[-1] if paths else None


def render() -> str:
    from railgun_spark import suite

    suite._ensure_loaded()

    detail = _load_json(os.path.join(REPO, "BENCH_DETAIL.json")) or {}
    curated = detail.get("queries_median") or detail.get("queries") or {}
    all_path = _newest("BENCH_ALL_r*.json")
    bench_all = (_load_json(all_path) or {}).get("queries", {}) if all_path else {}
    sf1_path = _newest("SF1_ALL_r*.json")
    sf1 = (_load_json(sf1_path) or {}).get("queries", {}) if sf1_path else {}

    def fmt_s(v) -> str:
        return f"{v:.2f}" if isinstance(v, (int, float)) else "—"

    lines = [
        "# QUERYBOOK — registered queries",
        "",
        "Generated by `python tools/make_querybook.py`; pinned in sync with",
        "the registry by `tests/test_querybook.py`. **GATE** = in the",
        "driver's 50-entry correctness window (rows+schema+value-hash vs",
        "DuckDB at sf0.01 every round); **EXTRA** = held to the identical",
        "oracle locally (`tools/check_correctness.py --extra` + the pytest",
        "sf0.001 gate). Bench walls: curated = BENCH_DETAIL.json median at",
        f"sf0.1; full = {os.path.basename(all_path) if all_path else '—'};",
        f"sf1 x = wall ratio at 10x keyspace from "
        f"{os.path.basename(sf1_path) if sf1_path else '—'}.",
        "",
    ]

    sections = (("Driver gate (REGISTRY)", suite.REGISTRY),
                ("Locally gated (EXTRA)", suite.EXTRA))
    for title, reg in sections:
        lines += [f"## {title} — {len(reg)} queries", ""]
        lines += ["| query | oracle | tags | curated s | full s | sf1 x | doc |",
                  "|---|---|---|---|---|---|---|"]
        for name in sorted(reg):
            spec = reg[name]
            oracle = "sql" if spec.oracle else "rows-only"
            tags = " ".join(spec.tags)
            cur = fmt_s(curated.get(name))
            full = fmt_s(bench_all.get(name))
            ratio = sf1.get(name, {}).get("ratio")
            r = f"x{ratio:.2f}" if isinstance(ratio, (int, float)) else "—"
            doc = re.sub(r"\s+", " ", spec.doc or "").strip()
            if len(doc) > 220:
                doc = doc[:217] + "..."
            doc = doc.replace("|", "\\|")
            lines.append(
                f"| `{name}` | {oracle} | {tags} | {cur} | {full} | {r} | {doc} |"
            )
        lines.append("")

    n_sql = sum(1 for reg in (suite.REGISTRY, suite.EXTRA)
                for s in reg.values() if s.oracle)
    n_total = len(suite.REGISTRY) + len(suite.EXTRA)
    lines += [
        f"Totals: {n_total} queries ({len(suite.REGISTRY)} gate + "
        f"{len(suite.EXTRA)} extra); {n_sql} with a DuckDB SQL oracle, "
        f"{n_total - n_sql} rows-only.",
        "",
    ]
    lines += _gate_matrix_lines()
    return "\n".join(lines)


# --------------------------------------------------------------------------
# Incremental ingest gate matrix (r13 VERDICT #7): the gates are library
# APIs, not registry queries, so the book documents them from this
# manifest. Every function name is introspection-verified against its
# module at render time — a renamed gate makes --check (and the sync
# test) fail instead of the book silently pointing at nothing.
# --------------------------------------------------------------------------
GATE_MATRIX = [
    # (modality/signal, batch gate, streaming twin, bucketed variant,
    #  index row, evidence)
    ("text / content hash", "dedup.dedup_against_index",
     "ingest.stream_ingest_dedup_availablenow", "dedup.bucketize_index",
     "60-bit content hash (8 B)",
     "tests/test_streaming.py soak + INGEST_GRID_COMPOSITE_r13.json (flat at 500k docs)"),
    ("text / k-word spans", "dedup.span_dup_against_index",
     "ingest.stream_ingest_dedup_availablenow", None,
     "8-byte window hashes",
     "tests/test_streaming.py (span gate + crash windows)"),
    ("text / MinHash bands", "dedup.near_dup_against_index",
     "ingest.stream_ingest_dedup_availablenow", None,
     "LSH band keys (~4x31-bit entropy: collision alone rejects)",
     "tests/test_streaming.py + INGEST_GRID_r11.json"),
    ("embeddings / sign-LSH", "similarity.embedding_dedup_against_index",
     "ingest.stream_ingest_embeddings_availablenow", None,
     "sign-LSH band ints + (dim, bits) geometry tags",
     "tests/test_streaming.py (restart idempotence)"),
    # media: one gate per operation, the family argument picks the
    # modality (phash.FAMILIES); offset_tolerant/coarse pick the mode
    ("image / dHash 4x16 — `IMAGE`", "phash.media_dedup_against_index",
     "ingest.stream_ingest_media_availablenow",
     "phash.bucketize_media_index",
     "(band_key, dhash, bits, mod) — verified hamming <= 3",
     "tests/test_phash.py 16-batch soak w/ 2 crash windows + "
     "INGEST_GRID_IMAGE_r13.json (zero false rejects)"),
    ("image / block dHash 256-bit — `IMAGE_WIDE`",
     "phash.media_dedup_against_index",
     "ingest.stream_ingest_media_availablenow",
     "phash.bucketize_media_index",
     "(band_key, h0..h3, bits, mod='image-wide') — verified hamming <= 15",
     "tests/test_phash.py wide gate/stream/bucketed + "
     "INGEST_GRID_IMAGE_WIDE_r14.json (zero false rejects) + "
     "PHASH_CANDIDATE_PROBE_r14.json"),
    ("audio / energy-delta fp — `AUDIO`", "phash.media_dedup_against_index",
     "ingest.stream_ingest_media_availablenow",
     "phash.bucketize_media_index",
     "(band_key, dhash, bits, mod='audio')",
     "tests/test_phash.py soak (r14) + INGEST_GRID_AUDIO_r13.json"),
    ("video / frame-aligned — `VIDEO`", "phash.media_dedup_against_index",
     "ingest.stream_ingest_media_availablenow",
     "phash.bucketize_media_index",
     "(vid, n_frames, frame_idx-encoded band_key, dhash, bits, mod)",
     "tests/test_phash.py soak (r14) + INGEST_GRID_VIDEO_r13.json"),
    ("audio / chunked fp (aligned) — `AUDIO_CHUNK`",
     "phash.media_dedup_against_index",
     "ingest.stream_ingest_media_availablenow",
     "phash.bucketize_media_index",
     "(vid, n_frames, chunk_idx-encoded band_key, dhash, bits, "
     "mod='audio-chunk') — the video layout verbatim",
     "tests/test_phash.py (chunked kernel/gate/bucketed) + CLI --chunked"),
    ("audio / offset-tolerant — `AUDIO_CHUNK`, offset_tolerant=True",
     "phash.media_dedup_against_index",
     "ingest.stream_ingest_media_availablenow",
     "phash.bucketize_media_index",
     "reads the chunk-aligned index (chunk_idx decoded from band_key); "
     "standing deployments bucket by the materialized chunk_key",
     "tests/test_phash.py (trimmed re-upload rejection, 12-batch "
     "crash soak, bucketed exchange pin) + CLI --chunked --offset-tolerant"),
    ("video / offset-tolerant — `VIDEO`, offset_tolerant=True",
     "phash.media_dedup_against_index",
     "ingest.stream_ingest_media_availablenow",
     "phash.bucketize_media_index",
     "reads the frame-aligned index (frame_idx decoded from band_key); "
     "standing deployments bucket by the materialized chunk_key",
     "tests/test_phash.py (trimmed re-upload rejection, ingest knob, "
     "bucketed exchange pin) + INGEST_GRID_VIDEO_OFFSET_r14.json "
     "(zero false rejects)"),
]

_GATE_MODULES = {
    "dedup": "railgun_spark.operators.dedup",
    "similarity": "railgun_spark.operators.similarity",
    "phash": "railgun_spark.operators.phash",
    "ingest": "railgun_spark.streaming.ingest",
}


def _check_gate_ref(ref: str) -> str:
    import importlib

    mod_alias, fn = ref.split(".", 1)
    mod = importlib.import_module(_GATE_MODULES[mod_alias])
    if not hasattr(mod, fn):
        raise AssertionError(
            f"QUERYBOOK gate matrix points at {ref} but "
            f"{_GATE_MODULES[mod_alias]} has no {fn!r} — update GATE_MATRIX"
        )
    return f"`{ref}`"


def _gate_matrix_lines() -> list[str]:
    lines = [
        "## Incremental ingest gates (library APIs)",
        "",
        "Every stored modality dedups incrementally against an append-only",
        "index with the same crash-window discipline (overwrite-partition",
        "sink writes, replay-after-append skip; see",
        "`railgun_spark/streaming/ingest.py`). Media gates verify hamming",
        "against the stored hash — band collision is only the candidate",
        "probe — so they provably cannot false-reject. All five media",
        "families share ONE implementation per operation: the",
        "`phash.SignatureFamily` argument picks the modality, the",
        "`offset_tolerant`/`coarse` flags pick the vote mode, and every",
        "parquet-index gate has a `media_dedup_against_table` twin.",
        "",
        "| modality / signal | batch gate | streaming twin | bucketed index | index row | evidence |",
        "|---|---|---|---|---|---|",
    ]
    for modality, gate, stream, bucketed, layout, evidence in GATE_MATRIX:
        lines.append(
            "| " + " | ".join([
                modality,
                _check_gate_ref(gate),
                _check_gate_ref(stream) if stream else "—",
                _check_gate_ref(bucketed) if bucketed else "—",
                layout,
                evidence,
            ]) + " |"
        )
    lines.append("")
    return lines


# The three wall-time cells (curated s | full s | sf1 x) right before the
# doc column. Doc cells escape "|" as "\|", so this can't match inside docs.
_WALL_CELL_RE = re.compile(r"\| (?:\d+\.\d{2}|—) \| (?:\d+\.\d{2}|—) \| (?:x\d+\.\d{2}|—) \|")


def mask_walls(text: str) -> str:
    """Strip bench wall-times + bench-artifact filenames from a rendered book.

    The sync test (tests/test_querybook.py) compares MASKED renders so it
    pins registry structure — membership, gate status, oracle presence,
    tags, docs — without failing when the driver's post-commit bench run
    refreshes BENCH_DETAIL.json wall numbers in the working tree.
    """
    text = re.sub(r"(?:BENCH_ALL|SF1_ALL)_r\d+\.json", "·", text)
    return _WALL_CELL_RE.sub("| · | · | · |", text)


def main() -> int:
    out = os.path.join(REPO, "QUERYBOOK.md")
    content = render()
    if "--check" in sys.argv:
        try:
            with open(out) as f:
                current = f.read()
        except OSError:
            current = ""
        if current != content:
            print("QUERYBOOK.md is stale — run: python tools/make_querybook.py")
            return 1
        print("QUERYBOOK.md is in sync")
        return 0
    with open(out, "w") as f:
        f.write(content)
    print(f"wrote {out} ({len(content.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
