"""PDF /Link URI-annotation harvesting: layout variety (inline /A,
indirect action objects, hex URIs), trap exclusion (/Square, /GoTo),
truncation behavior, and the one-Arrow-pass plan."""

from __future__ import annotations

from pdf_extractor_spark.functions.pdflinks import (
    link_targets,
    pdf_links,
    wrap_pdf_links,
)
from pdf_extractor_spark.operators.pdf_generator import PageSpec, build_pdf
from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

SF = "/root/testdata/sf0.001"


class TestHarvest:
    def test_inline_and_indirect_actions(self):
        for form in ("inline", "indirect"):
            p = PageSpec()
            p.put_words(72.0, 100.0, 12.0, ["w"])
            p.put_link("https://a.example/page/37", form=form)
            doc = parse_pdf(build_pdf([p]))
            assert doc.pages[0].links == ["https://a.example/page/37"]
            assert not doc.errors

    def test_hex_uri_decodes_utf8(self):
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["w"])
        p.put_link("https://sité.example/pagé/7", form="hex")
        doc = parse_pdf(build_pdf([p]))
        assert doc.pages[0].links == ["https://sité.example/pagé/7"]

    def test_literal_escapes_round_trip(self):
        url = "https://a.example/p?q=a(b)\\c"
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["w"])
        p.put_link(url)
        assert parse_pdf(build_pdf([p])).pages[0].links == [url]

    def test_traps_yield_nothing(self):
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["w"])
        p.put_link("ignored", form="square")
        p.put_link("ignored", form="goto")
        doc = parse_pdf(build_pdf([p]))
        assert doc.pages[0].links == [] and not doc.errors

    def test_links_never_cost_the_text(self):
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["Hello", "world"])
        p.put_link("https://a.example/page/1")
        doc = parse_pdf(build_pdf([p]))
        assert list(doc.pages[0].words["text"]) == ["Hello", "world"]

    def test_truncated_annot_ref_skipped(self):
        # chop the file after the content stream: the annot object is
        # gone; text salvage still works and links degrade to []
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["Hello"])
        p.put_link("https://a.example/page/1")
        data = build_pdf([p])
        cut = data[: data.rfind(b"/Type /Annot")]
        doc = parse_pdf(cut)
        texts = [
            t for pg in doc.pages for t in list(pg.words["text"])
        ]
        assert all(pg.links == [] for pg in doc.pages)
        assert "Hello" in texts

    def test_wrapper_arithmetic(self):
        t1, t2 = link_targets(6)
        doc = parse_pdf(wrap_pdf_links("some text here", 6))
        assert doc.pages[0].links == [
            f"https://site{t1 % 20}.example/page/{t1}",
            f"https://site{t2 % 20}.example/page/{t2}",
        ]


class TestSparkStage:
    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.pdflinks import (
            duck_pdf_links_sql,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = pdf_links(docs).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        want = con.sql(duck_pdf_links_sql()).df()
        key = ["doc_id", "target_id"]
        gs = got[key].sort_values(key).reset_index(drop=True)
        ws = want[key].sort_values(key).reset_index(drop=True)
        assert len(gs) == len(ws) > 0
        assert (gs.to_numpy() == ws.to_numpy()).all()

    def test_plan_one_arrow_pass(self, spark):
        from pdf_extractor_spark.functions.query_catalog import CATALOG

        df = CATALOG["corpus_pdf_links"].spark(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        assert "CartesianProduct" not in plan
        assert plan.count("Exchange") == 1  # spread only
