"""The benchmark workloads.

Each workload has the same shape:

- `setup(spark, seed, dir)` generates the seeded inputs and writes them;
- `reference(inputs)` computes what a pass must return, without Spark
  where an independent twin exists;
- `run_pass(spark, inputs, tracer, ckpt)` is one pass, returning its
  outputs; with `ckpt` each stage of the pass goes through
  plans.checkpoint.StageRunner into that dir (the warm-up pass does this);
- `check(out, ref)` lists every mismatch (empty list = correct);
- `resume_samples(...)` times resumes of the warm-up pass's checkpoint;
- `layers(...)` turns a traced pass (spans + Spark metrics) into
  per-layer metrics, and `static_layers(...)` adds those measured by
  direct calls once per traced run.
"""

from __future__ import annotations

import hashlib
import statistics
import time
from pathlib import Path
from unittest import mock

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
from tracing import Execution, Tracer, stopwatch

ARROW_BATCH_ROWS = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch in plans.session


# ---------------------------------------------------------------------------
# helpers shared by the workloads
# ---------------------------------------------------------------------------


def dir_bytes(path: str | Path) -> int:
    path = Path(path)
    if path.is_file():
        return path.stat().st_size
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _sum(execs: list[Execution], node_prefix: str, metric: str) -> float:
    return sum(n.metrics.get(metric, 0.0) for e in execs for n in e.named(node_prefix))


def _shuffle_bytes(execs: list[Execution]) -> float:
    return sum(
        n.metrics.get("shuffle bytes written", n.metrics.get("data size", 0.0))
        for e in execs
        for n in e.named("Exchange")
    )


def _join_rows(execs: list[Execution]) -> list[float]:
    rows = []
    for e in execs:
        for prefix in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin"):
            rows += [n.metrics.get("number of output rows", 0.0) for n in e.named(prefix)]
    return rows


def _pip_rows(execs: list[Execution]) -> tuple[float, float]:
    """(rows into the Arrow UDF, rows kept by the Filter above it)."""
    rows_in = rows_out = 0.0
    for e in execs:
        for udf in e.named("ArrowEvalPython"):
            rows_in += udf.metrics.get("number of output rows", 0.0)
            node = udf
            while True:
                parents = e.parents_of(node)
                if not parents:
                    break
                node = parents[0]
                if node.name == "Filter":
                    rows_out += node.metrics.get("number of output rows", 0.0)
                    break
                if node.name != "Project":
                    break
    return rows_in, rows_out


def spatial_layer(execs: list[Execution]) -> dict[str, float]:
    pip_in, pip_out = _pip_rows(execs)
    return {
        "operators.spatial.candidate_rows": sum(
            n.metrics.get("number of output rows", 0.0) for e in execs for n in e.named("BroadcastHashJoin")
        ),
        "operators.spatial.pip_in_rows": pip_in,
        "operators.spatial.pip_out_rows": pip_out,
        "operators.spatial.pip_useful_ratio": pip_out / pip_in if pip_in else 0.0,
        "operators.spatial.broadcast_bytes": _sum(execs, "BroadcastExchange", "data size"),
        "operators.spatial.python_run_s": _sum(execs, "ArrowEvalPython", "time to run Python workers"),
    }


def scan_layer(execs: list[Execution]) -> dict[str, float]:
    scans = [n for e in execs for n in e.named("Scan parquet")]
    return {
        "sources.pages.scan_rows": sum(n.metrics.get("number of output rows", 0.0) for n in scans),
        "sources.pages.scan_s": sum(n.metrics.get("scan time", 0.0) for n in scans),
    }


def tiles_layer(execs: list[Execution]) -> dict[str, float]:
    return {
        "operators.tiles.agg_build_s": _sum(execs, "HashAggregate", "time in aggregation build"),
        "operators.tiles.shuffle_bytes": _shuffle_bytes(execs),
    }


def cover_layer(spark, polygons: list[dict]) -> dict[str, float]:
    from openaip_yaixm_to_geojson_spark.operators.spatial import polygon_cover_df

    t = time.perf_counter()
    cells = polygon_cover_df(spark, polygons).count()
    return {
        "functions.cellgrid.cover_cells": float(cells),
        "functions.cellgrid.cover_build_s": time.perf_counter() - t,
    }


def pip_kernel_layer(lons: np.ndarray, lats: np.ndarray, polygons: list[dict]) -> dict[str, float]:
    """Time the NumPy winding kernel alone on the join's candidates (points
    whose join cell is in a polygon's cover), one call per polygon and
    Arrow-batch-sized chunk, as the PIP UDF calls it."""
    from openaip_yaixm_to_geojson_spark.functions import cellgrid
    from openaip_yaixm_to_geojson_spark.functions.geodesy import points_in_ring_winding
    from openaip_yaixm_to_geojson_spark.operators.spatial import DEFAULT_JOIN_RES

    cells = cellgrid.encode_np(lons, lats, DEFAULT_JOIN_RES)
    work = []
    for poly in polygons:
        ring = np.asarray(poly["ring"], dtype=np.float64)
        idx = np.flatnonzero(np.isin(cells, np.asarray(cellgrid.cover(ring, DEFAULT_JOIN_RES), dtype=np.int64)))
        work.append((ring, idx))
    kernel_s, rows = 0.0, 0
    for ring, idx in work:
        for lo in range(0, len(idx), ARROW_BATCH_ROWS):
            part = idx[lo : lo + ARROW_BATCH_ROWS]
            t = time.perf_counter()
            points_in_ring_winding(lons[part], lats[part], ring)
            kernel_s += time.perf_counter() - t
            rows += len(part)
    return {"functions.geodesy.pip_kernel_s": kernel_s, "functions.geodesy.kernel_rows": float(rows)}


def in_span(tracer: Tracer, execs: list[Execution], name: str, within) -> list[Execution]:
    spans = [s for s in tracer.spans if s.name == name and tracer._inside(s, within)]
    return [e for e in execs for s in spans if s.start <= e.submitted <= s.end]


def checkpoint_layer(ckpt: str, input_bytes: int, stages: list[str]) -> dict[str, float]:
    """Stage build times from each stage's `_lineage.json`, and the bytes
    the checkpoint holds."""
    from openaip_yaixm_to_geojson_spark.plans.checkpoint import StageRunner

    runner = StageRunner(None, ckpt)
    written = dir_bytes(ckpt)
    out = {}
    for stage in stages:
        manifest = runner.manifest(stage)
        out[f"plans.checkpoint.stage_s.{stage}"] = float(manifest["wall_seconds"]) if manifest else 0.0
    out["plans.checkpoint.bytes_written"] = float(written)
    out["plans.checkpoint.write_amplification"] = written / input_bytes
    return out


def must_not_rebuild():
    raise RuntimeError("complete checkpoint was rebuilt instead of resumed")


def timed_resumes(read_back, check, reps: int) -> tuple[list[float], list[str]]:
    """Time `reps` calls of `read_back` (a resume of a complete checkpoint)
    in steal-adjusted seconds (tracing.stopwatch); `check` lists what is
    wrong with a result."""
    samples, errors = [], []
    for _ in range(reps):
        with stopwatch() as clock:
            got = read_back()
        samples.append(clock["seconds"])
        errors += check(got)
    return samples, errors


def airspace_layers(spark, seed: int, d: Path, pages_dir: str, replicas: int, knn_sample: int) -> tuple[dict, list[str]]:
    """The converter and kNN layers, measured by direct calls: a seeded
    YAIXM corpus (the reference fixture blocks replicated `replicas` times
    with seeded offsets over the page box, plus their services) is read as
    a table of YAML documents, converted with convert_airspaces and checked
    against the Spark-free twin convert_local.convert_blocks (1e-6, exact
    vertex counts); the converted polygons then drive one call of the kNN
    ring-expansion loop on `knn_sample` pages. The loop is called with
    small_input_rows=0: below 100k pages and 10k ring vertices the engine
    takes its brute-force fast path, and at 100k+ pages the loop's default
    windows take minutes on 4 cores."""
    import yaml
    from pyspark.sql import functions as F

    from openaip_yaixm_to_geojson_spark.functions.convert_local import convert_blocks
    from openaip_yaixm_to_geojson_spark.operators import knn
    from openaip_yaixm_to_geojson_spark.operators.convert import convert_airspaces
    from openaip_yaixm_to_geojson_spark.sources.yaixm import airspaces_from_yaml_docs, services_from_yaml_docs
    from tracing import executions_since, last_execution_id

    ydir = d / "yaixm"
    ydir.mkdir(parents=True)
    corpus = datagen.yaixm_corpus(seed, replicas)
    for i, doc in enumerate(corpus):
        (ydir / f"airspace-{i:04d}.yaml").write_text(yaml.safe_dump(doc, sort_keys=False))

    m, errors = {}, []
    before = last_execution_id(spark)
    start = time.perf_counter()
    docs = spark.read.text(str(ydir), wholetext=True).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("doc_id"), F.col("value").alias("yaml")
    )
    feats = convert_airspaces(airspaces_from_yaml_docs(docs), services_from_yaml_docs(docs), fix_geometries=True)
    rows = feats.select("doc_id", "block_idx", "seq_idx", "name", "type", "class", "ring", "error").collect()
    m["operators.convert.convert_s"] = time.perf_counter() - start
    execs = executions_since(spark, before)
    m["sources.yaixm.parse_s"] = _sum(execs, "MapInPandas", "time to run Python workers")
    m["operators.convert.geometry_udf_s"] = _sum(execs, "ArrowEvalPython", "time to run Python workers")
    rows.sort(key=lambda r: (r["doc_id"], r["block_idx"], r["seq_idx"]))
    m["sources.yaixm.airspace_rows"] = float(len({(r["doc_id"], r["block_idx"]) for r in rows}))
    m["operators.convert.features"] = float(len(rows))
    m["operators.convert.error_rows"] = float(sum(r["error"] is not None for r in rows))

    twin = [f for doc in corpus for f in convert_blocks(doc["airspace"], doc["service"], fix_geometries=True)]
    if len(rows) != len(twin):
        errors.append(f"{len(rows)} converted features, twin has {len(twin)}")
    for row, feature in zip(rows, twin):
        ring = np.asarray(row["ring"], dtype=np.float64)
        if row["error"] is not None:
            errors.append(f"{row['name']}: error {row['error']}")
        elif row["name"] != feature["name"] or ring.shape != feature["ring"].shape:
            errors.append(f"{row['name']}: name or vertex count differs from the twin")
        elif np.abs(ring - feature["ring"]).max() > 1e-6:
            errors.append(f"{row['name']}: ring differs from the twin by more than 1e-6")

    polygons = [
        {"poly_id": i, "name": r["name"], "type": r["type"], "class": r["class"], "ring": r["ring"]}
        for i, r in enumerate(rows)
    ]
    sample = (
        spark.read.parquet(pages_dir)
        .select("url", "lat", "lon")
        .orderBy(F.xxhash64("url"))
        .limit(knn_sample)
        .localCheckpoint()
    )
    before = last_execution_id(spark)
    with mock.patch.object(knn, "literal_table", wraps=knn.literal_table) as rounds:
        start = time.perf_counter()
        n = knn.knn_ring_expansion(sample, polygons, small_input_rows=0).count()
        m["operators.knn.expansion_s"] = time.perf_counter() - start
    execs = executions_since(spark, before)
    if n != knn_sample:
        errors.append(f"kNN expansion returned {n} rows for {knn_sample} pages")
    # literal_table builds each round's window-offset table: one call per round
    m["operators.knn.rounds"] = float(rounds.call_count)
    m["operators.knn.candidate_rows"] = float(sum(_join_rows(execs)))
    m["operators.knn.fallback_rows"] = _sum(execs, "ArrowEvalPython", "number of output rows")
    return m, errors


# ---------------------------------------------------------------------------
# join_tiles: many points, few polygons -> PIP-bound
# ---------------------------------------------------------------------------


class JoinTiles:
    name = "join_tiles"
    # untimed passes after the checkpointing warm-up pass: on 4 cores a
    # pass's CPU time fell from 3.5-4.5 s to 2.3-3 s over these four, and
    # by a further ~20% over the next six
    warmup_passes = 4
    sizes = {
        "full": {"pages": 600_000, "replicas": 4, "knn_sample": 5_000},
        "tiny": {"pages": 20_000, "replicas": 1, "knn_sample": 500},
    }

    def __init__(self, size: str):
        from openaip_yaixm_to_geojson_spark.functions.convert_local import fixture_polygons

        self.cfg = self.sizes[size]
        self.n_pages = self.cfg["pages"]
        # driver-side conversion of the reference fixtures (~0.7 s): done
        # once per run, so passes time the join and not the polygon fixing
        self.polygons = fixture_polygons()

    def setup(self, spark, seed: int, d: Path) -> dict:
        from openaip_yaixm_to_geojson_spark.sources.pages import _CLUSTERS

        rng = np.random.default_rng(seed)
        weights = np.asarray([c[4] for c in _CLUSTERS], dtype=np.float64)
        cluster = rng.choice(len(_CLUSTERS), size=self.n_pages, p=weights / weights.sum())
        lat = np.empty(self.n_pages)
        lon = np.empty(self.n_pages)
        for k, (base_lat, lat_span, base_lon, lon_span, _) in enumerate(_CLUSTERS):
            m = cluster == k
            lat[m] = float(base_lat) + rng.integers(0, lat_span, size=int(m.sum())) / 1e5
            lon[m] = float(base_lon) + rng.integers(0, lon_span, size=int(m.sum())) / 1e5
        ids = pc.cast(pa.array(rng.permutation(self.n_pages).astype(np.int64)), pa.string())
        url = pc.binary_join_element_wise(f"https://s{seed}.bench.example/", ids, "")
        lang = pa.array(np.asarray(datagen.LANGS, dtype=object)[rng.integers(0, len(datagen.LANGS), self.n_pages)])
        table = pa.table({"url": url, "lat": lat, "lon": lon, "lang": lang})
        pages_dir = d / "pages"
        pages_dir.mkdir(parents=True)
        n_files = spark.sparkContext.defaultParallelism
        step = -(-self.n_pages // n_files)
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step), pages_dir / f"part-{i:05d}.parquet")
        return {"pages": str(pages_dir), "rows": self.n_pages, "bytes": dir_bytes(pages_dir), "seed": seed, "dir": d}

    def reference(self, inputs: dict) -> set:
        """NumPy twin of spatial_join -> tile_class_rollup: bbox prefilter,
        winding-number PIP against every fixture ring, rollup in pandas."""
        import pandas as pd

        from openaip_yaixm_to_geojson_spark.functions import cellgrid
        from openaip_yaixm_to_geojson_spark.functions.geodesy import points_in_ring_winding
        from openaip_yaixm_to_geojson_spark.operators.tiles import DEFAULT_TILE_RES

        t = pq.read_table(inputs["pages"], columns=["url", "lat", "lon"])
        lat = t.column("lat").to_numpy()
        lon = t.column("lon").to_numpy()
        hits_idx, hits_cls = [], []
        for poly in self.polygons:
            ring = np.asarray(poly["ring"], dtype=np.float64)
            box = np.flatnonzero(
                (lon >= ring[:, 0].min()) & (lon <= ring[:, 0].max()) & (lat >= ring[:, 1].min()) & (lat <= ring[:, 1].max())
            )
            for lo in range(0, len(box), ARROW_BATCH_ROWS):
                part = box[lo : lo + ARROW_BATCH_ROWS]
                inside = part[points_in_ring_winding(lon[part], lat[part], ring)]
                hits_idx.append(inside)
                hits_cls += [poly["class"]] * len(inside)
        idx = np.concatenate(hits_idx)
        df = pd.DataFrame(
            {"tile": cellgrid.encode_np(lon[idx], lat[idx], DEFAULT_TILE_RES), "cls": hits_cls, "doc": idx}
        )
        rows = set()
        for (tile, cls), g in df.groupby(["tile", "cls"]):
            rows.add((int(tile), cls, len(g), g["doc"].nunique()))
        for tile, g in df.groupby("tile"):
            rows.add((int(tile), None, len(g), g["doc"].nunique()))
        rows.add((None, None, len(df), df["doc"].nunique()))
        return rows

    def _job(self, spark, pages_dir: str):
        from openaip_yaixm_to_geojson_spark.operators.spatial import spatial_join
        from openaip_yaixm_to_geojson_spark.operators.tiles import tile_class_rollup

        return tile_class_rollup(spatial_join(spark.read.parquet(pages_dir), self.polygons))

    def run_pass(self, spark, inputs: dict, tracer: Tracer, ckpt: str | None = None) -> dict:
        from openaip_yaixm_to_geojson_spark.plans.checkpoint import StageRunner

        with tracer.span("join_tiles.collect"):
            if ckpt is None:
                rows = self._job(spark, inputs["pages"]).collect()
            else:
                rows = StageRunner(spark, ckpt).run("rollup", lambda: self._job(spark, inputs["pages"])).collect()
        return {"rollup": {(r["tile_id"], r["airspace_class"], r["doc_count"], r["n_docs"]) for r in rows}}

    def check(self, out: dict, ref: set) -> list[str]:
        got = out["rollup"]
        if got != ref:
            return [f"rollup differs from the NumPy twin: {len(got ^ ref)} rows differ"]
        return []

    def resume_samples(self, spark, ckpt: str, ref: set, reps: int):
        """Time `reps` resumes of the rollup checkpoint (manifest verify +
        recount + read back); each must return the twin's rollup without
        rebuilding."""
        from openaip_yaixm_to_geojson_spark.plans.checkpoint import StageRunner

        self.resume_ckpt = ckpt

        def read_back():
            rows = StageRunner(spark, ckpt).run("rollup", must_not_rebuild).collect()
            return {(r["tile_id"], r["airspace_class"], r["doc_count"], r["n_docs"]) for r in rows}

        samples, errors = timed_resumes(read_back, lambda got: [] if got == ref else ["resumed rollup differs from the twin"], reps)
        self.resume_times = samples
        return samples, errors

    def layers(self, tracer, execs, span, out: dict) -> dict[str, float]:
        m = {}
        m.update(scan_layer(execs))
        m.update(spatial_layer(execs))
        m.update(tiles_layer(execs))
        m["operators.tiles.rollup_rows"] = float(len(out["rollup"]))
        return m

    def static_layers(self, spark, inputs) -> dict[str, float]:
        t = pq.read_table(inputs["pages"], columns=["lat", "lon"])
        m = cover_layer(spark, self.polygons)
        m.update(pip_kernel_layer(t.column("lon").to_numpy(), t.column("lat").to_numpy(), self.polygons))
        m.update(checkpoint_layer(self.resume_ckpt, inputs["bytes"], ALL_STAGES))
        m["plans.checkpoint.resume_verify_s"] = statistics.median(self.resume_times)
        airspace, errors = airspace_layers(
            spark, inputs["seed"], inputs["dir"], inputs["pages"], self.cfg["replicas"], self.cfg["knn_sample"]
        )
        if errors:
            raise RuntimeError(f"converter check failed: {errors[:5]}")
        m.update(airspace)
        return m


# ---------------------------------------------------------------------------
# corpus_dedup: near-duplicate self-joins over a seeded corpus
# ---------------------------------------------------------------------------

def dedup_twin(
    doc_ids: list[int],
    texts: list[str],
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    threshold: float = 0.8,
    k_rarest: int = 4,
    df_cap: int = 50,
) -> tuple[set, set]:
    """Spark-free twin of dedup.minhash_lsh_pairs and dedup.containment_pairs
    at their defaults, written after oracle.sql_minhash_lsh_pairs and
    oracle.sql_containment_pairs (the smoke test checks the twin against
    that SQL in DuckDB; the SQL itself takes ~35 s on 5,000 documents on
    4 cores, too long for every run). Returns (MinHash pairs (a, b) with
    a < b, containment pairs (a in b))."""
    from openaip_yaixm_to_geojson_spark.operators.dedup import MINHASH_P, minhash_params

    shingles = {}
    for doc, text in zip(doc_ids, texts):
        w = text.split()
        shingles[doc] = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
    digest = {s: hashlib.md5(s.encode()).hexdigest() for sh in shingles.values() for s in sh}
    # MinHash LSH: x = int(md5[:8], 16) % P, h_j = min (a_j x + b_j) % P
    params = np.asarray(minhash_params(num_hashes), dtype=np.int64)
    rows = num_hashes // bands
    buckets = {}
    for doc, sh in shingles.items():
        if not sh:
            continue
        x = np.fromiter((int(digest[s][:8], 16) % MINHASH_P for s in sh), dtype=np.int64, count=len(sh))
        sig = ((params[:, :1] * x + params[:, 1:]) % MINHASH_P).min(axis=1)
        for b in range(bands):
            buckets.setdefault((b, tuple(sig[b * rows : (b + 1) * rows])), []).append(doc)
    cands = {(a, c) for docs in buckets.values() for a in docs for c in docs if a < c}
    minhash = {
        (a, c) for a, c in cands if len(shingles[a] & shingles[c]) / len(shingles[a] | shingles[c]) >= jaccard_threshold
    }
    # containment: prefix filter on the k rarest shingles with df <= df_cap
    hashed = {doc: {digest[s] for s in sh} for doc, sh in shingles.items()}
    df = {}
    for hs in hashed.values():
        for h in hs:
            df[h] = df.get(h, 0) + 1
    index = {}
    for doc, hs in hashed.items():
        for h in hs:
            if df[h] <= df_cap:
                index.setdefault(h, []).append(doc)
    thr = int(round(threshold * 10**6))
    containment = set()
    for doc, hs in hashed.items():
        probe = sorted((df[h], h) for h in hs if df[h] <= df_cap)[:k_rarest]
        for other in {o for _, h in probe for o in index[h] if o != doc}:
            if len(hs & hashed[other]) * 10**6 >= thr * len(hs):
                containment.add((doc, other))
    return minhash, containment


PAIR_STAGES = ["minhash_pairs", "containment_pairs"]
LSH_QA_SAMPLE_MOD = 10  # ~300 of 3,000 documents
ALL_STAGES = ["rollup"] + PAIR_STAGES


class CorpusDedup:
    name = "corpus_dedup"
    # over these three a pass's CPU time fell from 11-15 s to 7-9 s, and
    # by a further ~20% over the next three (its time by ~8%)
    warmup_passes = 3
    sizes = {"full": {"docs": 3_000}, "tiny": {"docs": 200}}

    def __init__(self, size: str):
        self.n_docs = self.sizes[size]["docs"]

    def setup(self, spark, seed: int, d: Path) -> dict:
        d.mkdir(parents=True, exist_ok=True)
        docs = datagen.documents_table(seed, self.n_docs, dup_share=0.05)
        path = d / "documents.parquet"
        pq.write_table(docs, path)
        return {"docs": str(path), "rows": self.n_docs, "bytes": dir_bytes(path)}

    def reference(self, inputs: dict) -> dict:
        t = pq.read_table(inputs["docs"], columns=["doc_id", "text"])
        minhash, containment = dedup_twin(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
        return {"minhash_pairs": minhash, "containment_pairs": containment}

    @staticmethod
    def _pairs(rows) -> set:
        return {(r[0], r[1]) for r in rows}

    def run_pass(self, spark, inputs: dict, tracer: Tracer, ckpt: str | None = None) -> dict:
        from openaip_yaixm_to_geojson_spark.operators.dedup import containment_pairs, minhash_lsh_pairs
        from openaip_yaixm_to_geojson_spark.plans.checkpoint import StageRunner

        def stage(name, build):
            return build() if ckpt is None else StageRunner(spark, ckpt).run(name, build)

        # both operators run jobs while they build their DataFrame
        # (checkpointed intermediates), so the spans cover the calls too
        docs = spark.read.parquet(inputs["docs"])
        with tracer.span("operators.dedup.minhash"):
            minhash = self._pairs(stage("minhash_pairs", lambda: minhash_lsh_pairs(docs)).collect())
        with tracer.span("operators.dedup.containment"):
            containment = self._pairs(stage("containment_pairs", lambda: containment_pairs(docs)).collect())
        return {"minhash_pairs": minhash, "containment_pairs": containment}

    def check(self, out: dict, ref: dict) -> list[str]:
        return [
            f"{key}: {len(out[key] - ref[key])} pairs the twin lacks, {len(ref[key] - out[key])} missed"
            for key in ("minhash_pairs", "containment_pairs")
            if out[key] != ref[key]
        ]

    def resume_samples(self, spark, ckpt: str, ref: dict, reps: int):
        """Time `reps` resumes of both pair-table checkpoints (manifest
        verify + recount + read back of both stages); each must return the
        twin's pairs without rebuilding."""
        from openaip_yaixm_to_geojson_spark.plans.checkpoint import StageRunner

        self.resume_ckpt = ckpt

        def read_back():
            runner = StageRunner(spark, ckpt)
            return (
                self._pairs(runner.run("minhash_pairs", must_not_rebuild).collect()),
                self._pairs(runner.run("containment_pairs", must_not_rebuild).collect()),
            )

        def check(got):
            if got != (ref["minhash_pairs"], ref["containment_pairs"]):
                return ["resumed pairs differ from the twin"]
            return []

        samples, errors = timed_resumes(read_back, check, reps)
        self.resume_times = samples
        return samples, errors

    def layers(self, tracer, execs, span, out: dict) -> dict[str, float]:
        minhash = in_span(tracer, execs, "operators.dedup.minhash", span)
        containment = in_span(tracer, execs, "operators.dedup.containment", span)
        candidates = max(_join_rows(minhash), default=0.0)
        verified = float(len(out["minhash_pairs"]))

        def seconds(name: str) -> float:
            return next(s.seconds for s in tracer.spans if s.name == name and tracer._inside(s, span))

        return {
            "operators.dedup.minhash_s": seconds("operators.dedup.minhash"),
            "operators.dedup.containment_s": seconds("operators.dedup.containment"),
            "operators.dedup.candidate_pairs": candidates,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.verify_useful_ratio": verified / candidates if candidates else 0.0,
            "operators.dedup.shuffle_bytes": _shuffle_bytes(minhash + containment),
        }

    def static_layers(self, spark, inputs) -> dict[str, float]:
        """The checkpoint layer from the resume checkpoint, and the text
        operators of the corpus pipeline, each timed once by a direct call
        on the documents (written to Spark's no-op sink, so every column is
        computed)."""
        from openaip_yaixm_to_geojson_spark.operators.dedup import lsh_recall_monitor
        from openaip_yaixm_to_geojson_spark.operators.terms import duplicated_span_stats
        from openaip_yaixm_to_geojson_spark.operators.text import analyze_documents

        m = checkpoint_layer(self.resume_ckpt, inputs["bytes"], ALL_STAGES)
        m["plans.checkpoint.resume_verify_s"] = statistics.median(self.resume_times)
        docs = spark.read.parquet(inputs["docs"])
        for key, fn in (
            ("operators.text.analyze_s", analyze_documents),
            ("operators.terms.span_stats_s", duplicated_span_stats),
            # the monitor's exact truth is all pairs of its sample: at the
            # default 1-in-4 sample it took 55 s on 5,000 docs on 4 cores
            ("operators.dedup.lsh_qa_s", lambda d: lsh_recall_monitor(d, sample_mod=LSH_QA_SAMPLE_MOD)),
        ):
            t = time.perf_counter()
            fn(docs).write.format("noop").mode("overwrite").save()
            m[key] = time.perf_counter() - t
        return m


WORKLOADS = {w.name: w for w in (JoinTiles, CorpusDedup)}
