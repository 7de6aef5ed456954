import os
import sys
import threading
from contextlib import contextmanager

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the sweep's oracle compare and job-group counter (tools/verify_local.py)
sys.path.insert(0, os.path.join(ROOT, "tools"))

SF_DIR = "/root/testdata/sf0.001"


@contextmanager
def serving(server):
    """Run an in-process Flight server's ``serve()`` in a thread; on exit
    shut it down and wait for that thread. A serve thread still finishing
    after ``shutdown()`` returns can close the listener of a server started
    next in the process, whose clients then get ``Connection refused``."""
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    try:
        yield server
    finally:
        server.shutdown()
        t.join(30)
        assert not t.is_alive(), "Flight serve thread did not exit"


@pytest.fixture(scope="session")
def spark():
    from datafusion_table_providers_spark.session import get_spark

    spark = get_spark("tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture()
def tmp_duckdb(tmp_path):
    from datafusion_table_providers_spark.sources.backends import DuckDBBackend

    return DuckDBBackend(str(tmp_path / "t.duckdb"))


@pytest.fixture()
def tmp_sqlite(tmp_path):
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend

    return SQLiteBackend(str(tmp_path / "t.db"))


@pytest.fixture()
def dup_heavy_dir(spark, tmp_path):
    """sf0.001 replicated 3x with id offsets (the sf1 synth construction)
    PLUS duplicated degenerate texts: empty, single-token and two-token
    texts have no 3-gram shingles, so their duplicate groups must emit NO
    intra pairs; a one-shingle text must pair at jaccard exactly 1.0."""
    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    reps = src.crossJoin(spark.range(3).withColumnRenamed("id", "k"))
    extra = spark.createDataFrame(
        [
            (9_000_000 + i, t, "en", "s9", len(t))
            for i, t in enumerate(
                ["", "", "solo", "solo", "two words", "two words",
                 "exactly three words", "exactly three words"]
            )
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "documents.parquet")
    reps.select(
        (F.col("doc_id") + F.col("k") * 10_000_000).alias("doc_id"),
        *[c for c in src.columns if c != "doc_id"],
    ).unionByName(extra.select(*src.columns)).write.parquet(out)
    return str(tmp_path)


@pytest.fixture()
def large_group_dir(spark, tmp_path):
    """sf0.001 plus one very large text group: 300 copies of one long text
    (its every shingle is over the n-gram frequency cap) and 5 near-variants
    that each swap one of its 80 words."""
    words = [f"tok{i}" for i in range(80)]
    texts = [" ".join(words)] * 300
    for at in (10, 25, 40, 55, 70):
        texts.append(" ".join(words[:at] + [f"alt{at}"] + words[at + 1:]))
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    extra = spark.createDataFrame(
        [(8_000_000 + i, t, "en", "s8", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = str(tmp_path / "documents.parquet")
    src.unionByName(extra.select(*src.columns)).write.parquet(out)
    return str(tmp_path)
