from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T

from lakehouse_ecommerce_etl_pipeline_spark.sources.excel import (
    parse_workbook_bytes,
    read_workbooks,
    write_fake_workbook,
)

SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def test_parse_roundtrip(tmp_path):
    p = str(tmp_path / "wb.bundle")
    write_fake_workbook(
        p, {"s1": pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})}
    )
    sheets = parse_workbook_bytes(open(p, "rb").read())
    assert list(sheets) == ["s1"]
    assert sheets["s1"]["a"].tolist() == [1, 2]


def test_read_workbooks_skips_bad_sheets_and_coerces(spark, tmp_path):
    good = pd.DataFrame(
        {"a": [1, 2], "b": ["x", "y"], "ts": ["2024-01-01 00:00:00", "bad-ts"]}
    )
    bad = pd.DataFrame({"a": [9], "other": ["zzz"]})  # missing required 'b'
    write_fake_workbook(str(tmp_path / "w1.bundle"), {"good": good, "bad": bad})
    write_fake_workbook(str(tmp_path / "w2.bundle"), {"also_good": good})

    out = read_workbooks(spark, str(tmp_path), SCHEMA, required_columns=["a", "b"])
    rows = out.collect()
    assert len(rows) == 4  # bad sheet skipped, two good sheets x2 rows
    assert {r.sheet_name for r in rows} == {"good", "also_good"}
    by_a = {(r.a, r.sheet_name): r for r in rows}
    assert by_a[(1, "good")].ts is not None
    assert by_a[(2, "good")].ts is None  # unparseable timestamp → null
    # distributed plumbing: one task per workbook file
    assert {r.source_file.split("/")[-1] for r in rows} == {"w1.bundle", "w2.bundle"}


def test_read_workbooks_from_any_working_directory(tmp_path):
    """Python workers import the engine even when the driver starts
    outside the repository with no PYTHONPATH: only the driver's
    sys.path knows the package, the workers learn it from get_spark."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wb = str(tmp_path / "wb.bundle")
    write_fake_workbook(wb, {"s1": pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})})
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import types as T
        from lakehouse_ecommerce_etl_pipeline_spark.session import get_spark
        from lakehouse_ecommerce_etl_pipeline_spark.sources.excel import read_workbooks
        spark = get_spark("any-cwd", shuffle_partitions=1)
        schema = T.StructType([T.StructField("a", T.LongType()),
                               T.StructField("b", T.StringType())])
        rows = read_workbooks(spark, {wb!r}, schema, ["a"]).select("a", "b").collect()
        print(sorted(tuple(r) for r in rows))
        spark.stop()
        """
    )
    cwd = tmp_path / "elsewhere"
    cwd.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "1"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[(1, 'x'), (2, 'y')]"
