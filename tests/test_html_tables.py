"""Web-table extraction: implied ends, thead/tbody, colspan shifts,
entity decode, nested tables, style-payload exclusion, truncation
salvage, and the engine-twin oracle."""

from __future__ import annotations

from pdf_extractor_spark.functions.tabledata import (
    html_tables,
    wrap_html_table,
)
from pdf_extractor_spark.operators.html_tables import extract_tables

SF = "/root/testdata/sf0.001"


def _page(table_markup: str) -> bytes:
    return (
        f"<html><body>{table_markup}</body></html>".encode("utf-8")
    )


class TestParser:
    def test_closed_and_implied_forms_identical(self):
        closed = _page(
            "<table><tr><th>a</th><th>b</th></tr>"
            "<tr><td>1</td><td>2</td></tr></table>"
        )
        implied = _page(
            "<table><tr><th>a<th>b<tr><td>1<td>2</table>"
        )
        assert extract_tables(closed) == extract_tables(implied)
        assert extract_tables(closed) == [
            (0, 0, 0, True, "a"), (0, 0, 1, True, "b"),
            (0, 1, 0, False, "1"), (0, 1, 1, False, "2"),
        ]

    def test_thead_tbody_transparent(self):
        a = _page(
            "<table><thead><tr><th>h</th></tr></thead>"
            "<tbody><tr><td>v</td></tr></tbody></table>"
        )
        b = _page("<table><tr><th>h<tr><td>v</table>")
        assert extract_tables(a) == extract_tables(b)

    def test_colspan_shifts_columns(self):
        cells = extract_tables(_page(
            "<table><tr><td colspan=2>wide</td><td>x</td></tr></table>"
        ))
        assert cells == [(0, 0, 0, False, "wide"), (0, 0, 2, False, "x")]

    def test_nested_table_is_its_own_table(self):
        cells = extract_tables(_page(
            "<table><tr><td>outer"
            "<table><tr><td>inner</td></tr></table>"
            "<td>after</table>"
        ))
        # nested emits at ITS close (before the parent) but carries
        # open-order index 1
        assert (1, 0, 0, False, "inner") in cells
        assert (0, 0, 0, False, "outer") in cells
        assert (0, 0, 1, False, "after") in cells

    def test_style_payload_never_leaks(self):
        cells = extract_tables(_page(
            "<table><tr><td>v<style>td{color:red}</style></td></tr>"
            "</table>"
        ))
        assert cells == [(0, 0, 0, False, "v")]

    def test_caption_text_dropped(self):
        cells = extract_tables(_page(
            "<table><caption>Prices</caption>"
            "<tr><td>v</td></tr></table>"
        ))
        assert cells == [(0, 0, 0, False, "v")]

    def test_truncated_table_salvages_parsed_rows(self):
        cells = extract_tables(
            b"<html><body><table><tr><td>kept</td></tr><tr><td>half"
        )
        assert (0, 0, 0, False, "kept") in cells
        assert (0, 1, 0, False, "half") in cells

    def test_entity_decodes(self):
        cells = extract_tables(_page(
            "<table><tr><td>a&amp;b</td></tr></table>"
        ))
        assert cells == [(0, 0, 0, False, "a&b")]


class TestWrapperGrid:
    def test_implied_end_doc_matches_closed_doc_shape(self):
        # doc 4 (closers) and doc 7 (no closers) differ only in dims
        for doc_id in (4, 7, 10, 11, 15):
            cells = extract_tables(wrap_html_table("t", doc_id))
            main = [c for c in cells if c[0] == 0]
            ndata = 1 + doc_id % 3
            ncols = 2 + doc_id % 2
            assert len(main) == (ndata + 1) * ncols
            assert all(h for (_t, r, _c, h, _v) in main if r == 0)

    def test_nested_doc_emits_second_table(self):
        cells = extract_tables(wrap_html_table("t", 11))
        assert (1, 0, 0, False, "n1") in cells


class TestSparkStage:
    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.tabledata import (
            duck_tables_sql,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = html_tables(docs).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        want = con.sql(duck_tables_sql()).df()
        key = ["doc_id", "table_idx", "row_idx", "col_idx",
               "is_header", "cell"]
        gs = got[key].sort_values(key).reset_index(drop=True)
        ws = want[key].sort_values(key).reset_index(drop=True)
        assert len(gs) == len(ws) > 0
        assert gs.equals(ws.astype(gs.dtypes.to_dict()))

    def test_plan_one_arrow_pass(self, spark):
        from pdf_extractor_spark.functions.query_catalog import CATALOG

        df = CATALOG["corpus_html_tables"].spark(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        assert "CartesianProduct" not in plan
        assert plan.count("Exchange") == 1  # spread only
