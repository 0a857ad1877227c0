"""Seeded input generators for the benchmark.

Every generator takes the workload seed and writes plain inputs (parquet
tables, YAML documents); the engine package only ever sees those inputs,
never the seed. Same seed, same bytes.

- `documents_table`: a `documents` table in the schema the engine reads
  (doc_id, text, lang, source, n_chars), fitted to the sf0.1 `documents`
  table the engine's tests and oracle run on (measured shape in
  perfbench/README.md): words drawn uniformly from a 30-word vocabulary,
  10-100 words a document, and a chosen share of near duplicates, each
  another document's text with " dup" appended. Two near duplicates of
  the same document are exact duplicates of each other.
- `yaixm_corpus`: the reference fixture airspace blocks replicated with
  unique ids, each replica shifted by a seeded whole-arc-second offset so
  it lands inside the page box, plus the matching ground-service records.
"""

from __future__ import annotations

import copy
from typing import Any

import numpy as np
import pyarrow as pa

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 100
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20

# Fixture cases that make up one replica of the airspace corpus (the
# reference's own test inputs; `multi-sequence` repeats `with-service`).
FIXTURE_CASES = (
    "with-service",
    "single-arc-clockwise",
    "single-arc-counterclockwise",
    "circle",
    "single-line",
    "pill-shaped",
)
# Page box of sources.pages (lat 49.5..57.7, lon -6.5..1.3), in arc seconds.
_BOX_LAT_S = (int(49.5 * 3600), int(57.7 * 3600))
_BOX_LON_S = (int(-6.5 * 3600), int(1.3 * 3600))


def _random_texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    vocab = np.asarray(VOCAB, dtype=object)[words]
    out, pos = [], 0
    for k in lengths:
        out.append(" ".join(vocab[pos : pos + k]))
        pos += k
    return out


def documents_table(seed: int, n: int, dup_share: float) -> pa.Table:
    """`n` documents; `dup_share` of them, in doc_id order, become another
    document's current text + " dup" (so a copy of a copy is possible)."""
    rng = np.random.default_rng(seed)
    texts = _random_texts(rng, n)
    targets = np.sort(rng.choice(n, size=int(n * dup_share), replace=False))
    for dst in targets:
        src = int(rng.integers(n - 1))
        src += src >= dst
        texts[int(dst)] = texts[src] + " dup"
    langs = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _dms_seconds(coord: str) -> tuple[int, int]:
    lat_s, lon_s = coord.split()
    lat = int(lat_s[0:2]) * 3600 + int(lat_s[2:4]) * 60 + int(lat_s[4:6])
    lon = int(lon_s[0:3]) * 3600 + int(lon_s[3:5]) * 60 + int(lon_s[5:7])
    return (-lat if lat_s[6] == "S" else lat), (-lon if lon_s[7] == "W" else lon)


def _dms(lat: int, lon: int) -> str:
    def fmt(v: int, width: int) -> str:
        a = abs(v)
        return f"{a // 3600:0{width}d}{a % 3600 // 60:02d}{a % 60:02d}"

    return f"{fmt(lat, 2)}{'S' if lat < 0 else 'N'} {fmt(lon, 3)}{'W' if lon < 0 else 'E'}"


def _shift(coord: str, dlat: int, dlon: int) -> str:
    lat, lon = _dms_seconds(coord)
    return _dms(lat + dlat, lon + dlon)


def _shift_block(block: dict[str, Any], dlat: int, dlon: int) -> dict[str, Any]:
    out = copy.deepcopy(block)
    for seq in out["geometry"]:
        for seg in seq["boundary"]:
            if seg.get("line") is not None:
                seg["line"] = [_shift(c, dlat, dlon) for c in seg["line"]]
            for kind, keys in (("arc", ("centre", "to")), ("circle", ("centre",))):
                if seg.get(kind) is not None:
                    for key in keys:
                        seg[kind][key] = _shift(seg[kind][key], dlat, dlon)
    return out


def _anchor(block: dict[str, Any]) -> tuple[int, int]:
    seg = block["geometry"][0]["boundary"][0]
    coord = seg["line"][0] if seg.get("line") is not None else seg["circle"]["centre"]
    return _dms_seconds(coord)


def yaixm_corpus(seed: int, replicas: int) -> list[dict[str, Any]]:
    """`replicas` YAIXM documents, each {"airspace": [...], "service": [...]}
    holding one shifted copy of every fixture block and the services that
    control them."""
    from openaip_yaixm_to_geojson_spark.data.fixtures_data import FIXTURES

    rng = np.random.default_rng(seed)
    base_blocks = [b for case in FIXTURE_CASES for b in FIXTURES[case]["airspace"]]
    base_services = FIXTURES["service"]["service"]
    docs = []
    for r in range(replicas):
        blocks, ids = [], {}
        for b, block in enumerate(base_blocks):
            lat0, lon0 = _anchor(block)
            dlat = int(rng.integers(*_BOX_LAT_S)) - lat0
            dlon = int(rng.integers(*_BOX_LON_S)) - lon0
            shifted = _shift_block(block, dlat, dlon)
            shifted["name"] = f"{block['name']} R{r}B{b}"
            if block.get("id"):
                shifted["id"] = ids[block["id"]] = f"{block['id']}-r{r}b{b}"
            blocks.append(shifted)
        services = []
        for svc in base_services:
            controls = [ids[c] for c in svc.get("controls") or [] if c in ids]
            if controls:
                services.append({**svc, "controls": controls})
        docs.append({"airspace": blocks, "service": services})
    return docs
