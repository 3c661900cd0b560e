"""Source/sink roundtrip tests (SURVEY §2.1 S1–S8)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from topic_modeling_ajin_spark.sources import (
    export_excel,
    load_model,
    load_table,
    read_csv,
    read_stopwords,
    save_model,
    write_csv,
    write_parquet,
)


def test_csv_roundtrip_with_explicit_schema(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = str(tmp_path / "docs_csv")
    write_csv(docs, path)
    back = read_csv(spark, path, docs.schema)
    assert back.schema == docs.schema
    a = {tuple(r) for r in docs.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_csv_permissive_coerces_bad_cells_to_null(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StructField, StructType

    p = tmp_path / "bad.csv"
    p.write_text("x,y\n1,2\n3,notanint\n")
    schema = StructType([StructField("x", IntegerType()), StructField("y", IntegerType())])
    df = read_csv(spark, str(p), schema)
    rows = sorted(df.collect(), key=lambda r: (r["x"] is None, r["x"]))
    assert rows[0]["x"] == 1 and rows[0]["y"] == 2
    assert rows[1]["y"] is None  # errors='coerce' semantics


def test_stopword_textlines_source(spark, tmp_path):
    p = tmp_path / "stopwords.txt"
    p.write_text("the\n  a  \n\nand\n   \nof\n")
    sw = read_stopwords(spark, str(p))
    assert sw == ("the", "a", "and", "of")


def test_partitioned_parquet_sink_prunes(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    path = str(tmp_path / "docs_part")
    write_parquet(docs, path, partition_by=("lang",))
    back = spark.read.parquet(path)
    one_lang = back.select("lang").first()["lang"]
    pruned = back.filter(F.col("lang") == one_lang)
    # partition pruning: the filtered scan must report a partition filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters")[1][:120]
    assert pruned.count() == docs.filter(F.col("lang") == one_lang).count()


def test_excel_multisheet_roundtrip_stdlib_only(spark, tmp_path):
    """VERDICT r2 item 8: the multi-sheet workbook writes AND reads with
    only the stdlib — no openpyxl anywhere in the loop."""
    import pandas as pd

    from topic_modeling_ajin_spark.sources.io import read_xlsx

    path = str(tmp_path / "report.xlsx")
    ok = export_excel(
        {
            "분석요약": pd.DataFrame(
                {"단어": ["모델", "콘텐츠"], "빈도수": [845, 736]}
            ),
            "stats": pd.DataFrame({"metric": ["mean_len"], "value": [146.46]}),
        },
        path,
    )
    assert ok is True
    s1 = read_xlsx(spark, path, sheet=1)
    rows = {r["단어"]: r["빈도수"] for r in s1.collect()}
    assert rows == {"모델": "845", "콘텐츠": "736"}  # reader is string-typed
    s2 = read_xlsx(spark, path, sheet=2)
    (r2,) = s2.collect()
    assert r2["metric"] == "mean_len" and float(r2["value"]) == 146.46


def test_write_xlsx_wide_sheet_and_special_chars(spark, tmp_path):
    from topic_modeling_ajin_spark.sources.io import read_xlsx, write_xlsx

    header = [f"c{i}" for i in range(30)]  # crosses the Z→AA boundary
    row = [f"v&<{i}>" for i in range(30)]
    path = str(tmp_path / "wide.xlsx")
    write_xlsx({"wide": [header, row]}, path)
    df = read_xlsx(spark, path)
    assert df.columns == header
    (got,) = df.collect()
    assert list(got) == row  # XML escaping round-trips


def test_model_persistence_roundtrip(spark, sf_dir, tmp_path):
    from pyspark.ml.clustering import KMeans, KMeansModel
    from pyspark.ml.functions import array_to_vector

    e = load_table(spark, sf_dir, "embeddings")
    feat = e.select("vec_id", array_to_vector(F.col("embedding")).alias("features"))
    model = KMeans(k=4, seed=42, featuresCol="features").fit(feat)
    path = str(tmp_path / "kmeans_model")
    save_model(model, path)
    back = load_model(KMeansModel, path)
    a = model.transform(feat).select("vec_id", "prediction").collect()
    b = back.transform(feat).select("vec_id", "prediction").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_text_report_sink(spark, sf_dir, tmp_path):
    from topic_modeling_ajin_spark.report import render_text_report

    path = str(tmp_path / "report.txt")
    text = render_text_report(spark, sf_dir, path)
    assert "CORPUS ANALYSIS REPORT" in text
    assert "[Top-10 words]" in text
    with open(path, encoding="utf-8") as fh:
        assert fh.read() == text


def test_full_analysis_pipeline(spark, sf_dir, tmp_path):
    from topic_modeling_ajin_spark.pipeline import run_full_analysis

    import os

    written = run_full_analysis(spark, sf_dir, str(tmp_path / "out"))
    assert "word_count" in written and "topic_info" in written
    assert "report_html" in written and "topic_hierarchy" in written
    for name, path in written.items():
        if os.path.isfile(path):  # text report / SVG figures / HTML bundle
            assert os.path.getsize(path) > 0, name
            continue
        df = spark.read.parquet(path)
        assert df.count() > 0, name


def test_read_nanos_parquet_restores_conf_across_threads(spark, sf_dir):
    """Overlapping callers must not leave ``nanosAsLong`` set: each saves
    and restores the session conf around its read."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from topic_modeling_ajin_spark.sources.tables import _read_nanos_parquet

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    path = f"{sf_dir}/events.parquet"
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=2 * (os.cpu_count() or 4)) as pool:
            futures = [pool.submit(_read_nanos_parquet, spark, path) for _ in range(32)]
            dfs = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert spark.conf.get(key, None) == before
    assert {tuple(df.columns) for df in dfs} == {tuple(dfs[0].columns)}


REFERENCE_RAW = (
    "/root/reference/RAW_DATA/"
    "2025_6_28_22_56_49_4600_channel_download_ai광고.xlsx"
)


@pytest.mark.skipif(
    not os.path.exists(REFERENCE_RAW), reason="reference snapshot not present"
)
def test_reference_golden_prep_parity(spark):
    """Replication test against the reference's OWN artifacts (SURVEY §5,
    BASELINE.md): run the canonical prep (P1-P5, F1-F2 — projection,
    rename, date coercion, keep-first dedup, null-drop, concat) on the
    reference's raw crawling xlsx and hit its recorded golden numbers:
    5,058 raw rows → 4,793 documents, mean title_contents length 146.46
    (``Results/comprehensive_analysis_results.xlsx``, logic
    ``preprocessing.py:325-359``)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from topic_modeling_ajin_spark.sources.io import read_xlsx

    raw = read_xlsx(spark, REFERENCE_RAW)
    assert raw.count() == 5058

    # crawling-source projection/rename (preprocessing.py:334-335) with an
    # ingest-order id so keep-first dedup semantics match pandas
    df = raw.select(
        F.monotonically_increasing_id().alias("idx"),
        F.to_date(F.col("시작 날짜")).alias("date"),
        F.col("제목").alias("title"),
        F.col("정제데이터").alias("contents"),
    )
    first = Window.partitionBy("contents")
    deduped = (
        df.withColumn("keep_idx", F.min("idx").over(first))
        .filter(F.col("idx") == F.col("keep_idx"))
    )
    # pandas reads empty xlsx cells as NaN (dropped by dropna); the stdlib
    # reader surfaces them as '' — nullify to match
    final = deduped.filter(
        F.col("contents").isNotNull()
        & (F.col("contents") != "")
        & F.col("date").isNotNull()
    )
    assert final.count() == 4793

    title_contents = F.trim(
        F.concat_ws(
            " ",
            F.coalesce(F.col("title"), F.lit("")),
            F.coalesce(F.col("contents"), F.lit("")),
        )
    )
    mean_len = final.agg(
        F.round(F.avg(F.length(title_contents)), 2).alias("m")
    ).collect()[0]["m"]
    assert mean_len == 146.46


REFERENCE_PRE = "/root/reference/Results/pre_dataframe.xlsx"


@pytest.mark.skipif(
    not os.path.exists(REFERENCE_PRE), reason="reference snapshot not present"
)
def test_reference_derived_columns_cell_exact(spark):
    """Cell-exact replication of the reference's canonical preprocessed
    table: recompute every derived column of ``Results/pre_dataframe.xlsx``
    (4,793 rows) from its own raw columns with this engine's expressions
    and require ZERO mismatches — title_contents (P4,
    ``preprocessing.py:353``), year/month from the Excel date serial (P5,
    ``:356-357``), and cleaned_text (P6+P7 ``clean_text``:
    strip specials → collapse whitespace → word-boundary (?i)\\bai\\b →
    bare AI/ai replaces → trim, ``:206-217,279-284``)."""
    from pyspark.sql import functions as F

    from topic_modeling_ajin_spark.sources.io import read_xlsx

    df = read_xlsx(spark, REFERENCE_PRE)
    assert df.count() == 4793

    tc = F.trim(
        F.concat_ws(
            " ",
            F.coalesce(F.col("title"), F.lit("")),
            F.coalesce(F.col("contents"), F.lit("")),
        )
    )
    c = F.coalesce(F.col("title_contents"), F.lit(""))
    c = F.regexp_replace(c, r"[^가-힣a-zA-Z0-9\s]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.regexp_replace(c, r"(?i)\bai\b", "인공지능")
    c = F.regexp_replace(c, r"AI", "인공지능")
    cleaned = F.trim(F.regexp_replace(c, r"ai", "인공지능"))
    serial_date = F.date_add(
        F.lit("1899-12-30").cast("date"), F.col("date").cast("int")
    )

    bad = df.agg(
        F.sum(
            (tc != F.coalesce(F.col("title_contents"), F.lit(""))).cast("int")
        ).alias("tc"),
        F.sum(
            (cleaned != F.coalesce(F.col("cleaned_text"), F.lit(""))).cast("int")
        ).alias("cl"),
        F.sum(
            (F.year(serial_date).cast("string") != F.col("year")).cast("int")
        ).alias("y"),
        F.sum(
            (F.month(serial_date).cast("string") != F.col("month")).cast("int")
        ).alias("m"),
    ).collect()[0]
    assert (bad["tc"], bad["cl"], bad["y"], bad["m"]) == (0, 0, 0, 0)


def test_xlsx_datasource_matches_driver_reader(spark, tmp_path):
    """The registered Spark-4 Python DataSource (`format("xlsx")`) must
    return exactly what the driver-side `read_xlsx` returns for the same
    sheet — one parse core, two execution sites."""
    import pandas as pd

    from topic_modeling_ajin_spark.sources import XlsxDataSource, export_excel
    from topic_modeling_ajin_spark.sources.io import read_xlsx

    path = str(tmp_path / "wb.xlsx")
    export_excel(
        {
            "단어빈도": pd.DataFrame({"단어": ["모델", "콘텐츠"], "빈도수": [845, 736]}),
            "stats": pd.DataFrame({"metric": ["mean_len"], "value": [146.46]}),
        },
        path,
    )
    spark.dataSource.register(XlsxDataSource)

    ds1 = spark.read.format("xlsx").load(path)
    drv1 = read_xlsx(spark, path, sheet=1)
    assert ds1.columns == drv1.columns
    assert sorted(map(tuple, ds1.collect())) == sorted(map(tuple, drv1.collect()))

    ds2 = spark.read.format("xlsx").option("sheet", "2").load(path)
    (r2,) = ds2.collect()
    assert r2["metric"] == "mean_len" and float(r2["value"]) == 146.46


def test_xlsx_datasource_all_sheets_union(spark, tmp_path):
    """sheets=all: one input partition per worksheet, union-by-header
    schema, `_sheet` carries the sheet display name."""
    import pandas as pd

    from topic_modeling_ajin_spark.sources import XlsxDataSource, export_excel

    path = str(tmp_path / "multi.xlsx")
    export_excel(
        {
            "a": pd.DataFrame({"k": ["x", "y"], "va": [1, 2]}),
            "b": pd.DataFrame({"k": ["z"], "vb": [9]}),
        },
        path,
    )
    spark.dataSource.register(XlsxDataSource)
    df = spark.read.format("xlsx").option("sheets", "all").load(path)
    assert df.columns[0] == "_sheet"
    assert set(df.columns) == {"_sheet", "k", "va", "vb"}
    assert df.rdd.getNumPartitions() == 2  # one per worksheet
    rows = {(r["_sheet"], r["k"]): (r["va"], r["vb"]) for r in df.collect()}
    assert rows[("a", "x")] == ("1", None)
    assert rows[("b", "z")] == (None, "9")
    assert len(rows) == 3


def test_xlsx_datasource_rejects_duplicate_headers(spark, tmp_path):
    """Duplicate header names fail at PLANNING with the read_xlsx
    workaround named: Arrow refuses duplicate field names on the
    DataSource read path, and name-keyed assembly would silently serve
    the first column's values for both (r5 review). read_xlsx (positional)
    still handles them."""
    import pytest

    from topic_modeling_ajin_spark.sources import XlsxDataSource
    from topic_modeling_ajin_spark.sources.io import read_xlsx, write_xlsx

    path = str(tmp_path / "dup.xlsx")
    write_xlsx({"s": [["x", "x"], ["1", "2"]]}, path)
    spark.dataSource.register(XlsxDataSource)
    with pytest.raises(Exception, match="duplicate header"):
        spark.read.format("xlsx").load(path).collect()
    drv = read_xlsx(spark, path)
    assert drv.columns == ["x", "x"]
    assert [tuple(r) for r in drv.collect()] == [("1", "2")]


def test_xlsx_rels_less_fallback_sheet_order(spark, tmp_path):
    """A minimal xlsx with NO workbook rels and 11 sheets: sheet indexing
    must be numeric (sheet2 is the second sheet), not lexicographic
    (which would resolve sheet10) (r5 review)."""
    import zipfile

    from topic_modeling_ajin_spark.sources.io import read_xlsx

    path = str(tmp_path / "norels.xlsx")
    sheet_xml = (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>col</t></is></c></row>'
        '<row r="2"><c r="A1" t="inlineStr"><is><t>{v}</t></is></c></row>'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        for i in range(1, 12):
            z.writestr(
                f"xl/worksheets/sheet{i}.xml", sheet_xml.replace("{v}", f"s{i}")
            )
    s2 = read_xlsx(spark, path, sheet=2)
    (r,) = s2.collect()
    assert r["col"] == "s2"
    s11 = read_xlsx(spark, path, sheet=11)
    (r11,) = s11.collect()
    assert r11["col"] == "s11"


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    """JSONL scan (r10): good lines parse under the explicit schema; a
    malformed line is CAPTURED raw in the corrupt column, never silently
    dropped; the sink round-trips; and the quarantine filter works once
    a data column is touched (the documented Spark caveat)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from topic_modeling_ajin_spark.sources import read_jsonl, write_jsonl

    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        '{"doc_id": 2, "text": "second doc"}\n'
        "{this is not json at all\n"
        '{"doc_id": 4, "text": "fourth"}\n'
    )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
        ]
    )
    df = read_jsonl(spark, str(src), schema).cache()
    rows = {r["doc_id"]: r for r in df.collect()}
    assert {k for k in rows if k is not None} == {1, 2, 4}
    assert rows[1]["text"] == "hello world"
    bad = df.filter(F.col("doc_id").isNull()).collect()
    assert len(bad) == 1
    assert bad[0]["_corrupt_record"].startswith("{this is not json")

    good = df.filter(F.col("doc_id").isNotNull()).select("doc_id", "text")
    out = str(tmp_path / "out")
    write_jsonl(good, out)
    back = read_jsonl(spark, out, schema)
    assert sorted(
        (r["doc_id"], r["text"]) for r in back.collect()
    ) == [(1, "hello world"), (2, "second doc"), (4, "fourth")]
    df.unpersist()
