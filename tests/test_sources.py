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
