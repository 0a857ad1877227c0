"""Edge inputs that must fail loudly: null cells in non-nullable literal
tables, and the replica builder's bad factor / missing source column."""

import importlib.util
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_literal_table_rejects_none_in_non_nullable_field(spark):
    from openaip_yaixm_to_geojson_spark.plans.localtable import literal_table

    schema = T.StructType(
        [
            T.StructField("cell", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
        ]
    )
    # the literal path (few rows) and the pandas path (many rows)
    for n in (2, 100):
        rows = [(i, None) for i in range(n)]
        assert literal_table(spark, rows, schema).count() == n  # nullable None is fine
        with pytest.raises(ValueError, match="'cell'"):
            literal_table(spark, rows + [(None, "x")], schema)
    with pytest.raises(ValueError, match="'cell'"):
        literal_table(spark, [{"cell": None, "name": "x"}], schema)


def _scale_testdata():
    spec = importlib.util.spec_from_file_location(
        "scale_testdata", os.path.join(REPO, "tools", "scale_testdata.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_source(src, with_n_chars=True):
    src.mkdir()
    docs = {
        "doc_id": pa.array([0, 1], type=pa.int64()),
        "text": ["a b c", "d e"],
        "lang": ["en", "en"],
        "source": ["x", "y"],
    }
    if with_n_chars:
        docs["n_chars"] = pa.array([5, 3], type=pa.int64())
    pq.write_table(pa.table(docs), src / "documents.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([0], type=pa.int64()),
                "ts": pa.array([1], type=pa.int64()),
                "user_id": pa.array([3], type=pa.int64()),
                "event_type": ["view"],
                "value": [1.0],
                "props": ["{}"],
            }
        ),
        src / "events.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([0], type=pa.int64()),
                "embedding": pa.array([[1.0, 2.0]], type=pa.list_(pa.float32())),
                "label": ["l"],
            }
        ),
        src / "embeddings.parquet",
    )


def test_scale_testdata_guards(tmp_path, monkeypatch):
    mod = _scale_testdata()
    src, dst = tmp_path / "src", tmp_path / "dst"
    _write_source(src)
    for factor in ("1", "0"):
        monkeypatch.setattr("sys.argv", ["scale_testdata.py", str(src), str(dst), factor])
        with pytest.raises(SystemExit, match="factor must be >= 2"):
            mod.main()
    assert not dst.exists()

    monkeypatch.setattr("sys.argv", ["scale_testdata.py", str(src), str(dst), "2"])
    mod.main()
    out = pq.read_table(dst / "documents.parquet")
    assert out.num_rows == 4 and out.column("n_chars").to_pylist()[2:] == [5, 3]

    bare = tmp_path / "bare"
    _write_source(bare, with_n_chars=False)
    monkeypatch.setattr("sys.argv", ["scale_testdata.py", str(bare), str(tmp_path / "d2"), "2"])
    with pytest.raises(SystemExit, match="no n_chars column"):
        mod.main()
