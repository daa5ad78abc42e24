"""Source-format breadth: CSV and JSON-lines roundtrips preserve the
documents table exactly (schema-projected reads, header handling)."""


def test_csv_and_jsonl_roundtrip(spark, tmp_path):
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cols = ["doc_id", "lang", "source", "n_chars"]  # text has newlines
    base = src.select(*cols)

    csv_dir = str(tmp_path / "csv")
    base.write.option("header", True).mode("overwrite").csv(csv_dir)
    got_csv = (spark.read.option("header", True)
               .schema(base.schema).csv(csv_dir))
    assert got_csv.exceptAll(base).count() == 0
    assert base.exceptAll(got_csv).count() == 0

    js_dir = str(tmp_path / "jsonl")
    src.write.mode("overwrite").json(js_dir)  # full rows incl. text
    got_js = spark.read.schema(src.schema).json(js_dir)
    assert got_js.exceptAll(src).count() == 0
    assert src.exceptAll(got_js).count() == 0


def test_parquet_memo_hits_and_dies_with_its_session():
    """One source relation per (session, path), and the memo must not
    keep its session alive: every memoized DataFrame holds the session
    that read it."""
    import gc
    import weakref
    from types import SimpleNamespace

    from pyproj_spark.io import read_parquet_cached

    class Session:
        def __init__(self):
            self.read = SimpleNamespace(
                parquet=lambda path: SimpleNamespace(sparkSession=self))

    s = Session()
    df = read_parquet_cached(s, "t.parquet")
    assert read_parquet_cached(s, "./t.parquet") is df
    ref = weakref.ref(s)
    del s, df
    gc.collect()
    assert ref() is None


def test_blob_stages_unpickle_without_a_query_registry(spark, monkeypatch):
    """A Python worker unpickles each fixture-blob stage of the decode
    queries and runs it without importing a query registry module (the
    text registry alone is about 11 MB per worker)."""
    import inspect
    import os
    import pickle
    import subprocess
    import sys

    from pyspark import cloudpickle

    from pyproj_spark import queries_text
    from pyproj_spark.sources import blobs

    class Stage:
        """Stands in for the documents frame; keeps the mapped function."""
        def select(self, *cols):
            return self

        def mapInArrow(self, fn, schema):
            self.fn = fn
            return self

    class Built(Exception):
        pass

    stages = {}

    def keep(name):
        def with_blobs(docs, blob):
            stages[name] = blobs.with_blobs(Stage(), blob).fn
            raise Built
        return with_blobs

    monkeypatch.setattr(queries_text, "_docs", lambda spark, sf_dir: None)
    monkeypatch.setattr(queries_text, "_spread", lambda df: df)
    names = [n for n, (q, _) in queries_text.QUERIES_TEXT.items()
             if "with_blobs(" in inspect.getsource(q)]
    assert len(names) == 10
    for name in names:
        monkeypatch.setattr(queries_text, "with_blobs", keep(name))
        try:
            queries_text.QUERIES_TEXT[name][0](spark, None)
        except Built:
            pass
    assert sorted(stages) == sorted(names)

    code = (
        "import pickle, sys\n"
        "import pyarrow as pa\n"
        "stages = pickle.loads(sys.stdin.buffer.read())\n"
        "batch = pa.RecordBatch.from_pydict({'url': ['7', '12'],"
        " 'doc_id': [7, 12]})\n"
        "out = {n: [b.to_pydict() for b in fn(iter([batch]))]"
        " for n, fn in stages.items()}\n"
        "mods = sorted(m for m in sys.modules"
        " if m.startswith('pyproj_spark'))\n"
        "sys.stdout.buffer.write(pickle.dumps((out, mods)))\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run([sys.executable, "-c", code], cwd=repo,
                         input=cloudpickle.dumps(stages),
                         capture_output=True, timeout=120)
    assert res.returncode == 0, res.stderr.decode()[-2000:]
    out, mods = pickle.loads(res.stdout)
    assert "pyproj_spark.queries_text" not in mods
    assert "pyproj_spark.queries" not in mods
    assert "pyproj_spark.sources.blobs" in mods
    assert out["jpeg_decode"][0]["payload"] == [blobs.jpeg_blob(7),
                                                blobs.jpeg_blob(12)]
    for name in names:
        assert out[name][0]["url"] == ["7", "12"], name
