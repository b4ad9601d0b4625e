"""Structured-data harvesting: Open Graph metas + JSON-LD islands —
MIME-essence type match, typed skip on malformed islands, template
inertness, @graph descent, unicode-escape decode, and the
one-Arrow-pass plan."""

from __future__ import annotations

from pdf_extractor_spark.functions.structured import (
    ldjson_rows,
    structured_data,
    wrap_html_structured,
)
from pdf_extractor_spark.operators.html_extract import harvest_structured

SF = "/root/testdata/sf0.001"


class TestHarvest:
    def test_og_metas_and_ldjson_island(self):
        metas, islands, _md = harvest_structured(wrap_html_structured("t", 4))
        m = dict(metas)
        assert m["og:title"] == "Doc 4 of site4"
        assert m["og:type"] == "article"
        assert len(islands) == 1

    def test_template_meta_is_inert(self):
        # doc_id 9: template trap (9%6==3); og:title must be the real
        # one, never 'trap'
        metas, _, _md = harvest_structured(wrap_html_structured("t", 9))
        titles = [v for k, v in metas if k == "og:title"]
        assert titles == ["Doc 9 of site9"]

    def test_wrong_essence_not_harvested(self):
        # doc_id 5: application/json present (5%5==0), no ld+json
        _, islands, _md = harvest_structured(wrap_html_structured("t", 5))
        assert islands == []

    def test_parameterized_type_attribute_matches(self):
        # doc_id 2: type='APPLICATION/LD+JSON; charset=utf-8'
        _, islands, _md = harvest_structured(wrap_html_structured("t", 2))
        assert len(islands) == 1

    def test_malformed_island_costs_its_rows_only(self):
        # doc_id 14: malformed (14%7==0) AND valid (14%2==0) islands
        _, islands, _md = harvest_structured(wrap_html_structured("t", 14))
        assert len(islands) == 2
        rows = [r for raw in islands for r in ldjson_rows(raw)]
        assert ("headline", "Doc — 14") in rows

    def test_unterminated_island_dropped(self):
        page = (b"<html><head><script type='application/ld+json'>"
                b'{"@type": "Article"')
        _, islands, _md = harvest_structured(page)
        assert islands == []

    def test_meta_name_allowlist(self):
        page = (b"<html><head>"
                b"<meta name='description' content='d'>"
                b"<meta name='TWITTER:card' content='summary'>"
                b"<meta name='viewport' content='width=device-width'>"
                b"</head><body>x</body></html>")
        metas, _, _md = harvest_structured(page)
        assert ("description", "d") in metas
        assert ("twitter:card", "summary") in metas
        assert all(k != "viewport" for k, _ in metas)


class TestMicrodata:
    def test_all_value_rules(self):
        # doc_id 7 (odd): the microdata article block
        _, _, md = harvest_structured(wrap_html_structured("t", 7))
        assert ("@type", "https://schema.org/Article") in md
        assert ("headline", "Doc — 7") in md        # text content
        assert ("wordCount", "7") in md             # meta → content
        assert ("url", "/d/7") in md                # a → href
        assert ("author", "Author 7") in md         # span text

    def test_even_docs_have_no_microdata(self):
        _, _, md = harvest_structured(wrap_html_structured("t", 4))
        assert md == []

    def test_template_microdata_inert(self):
        # doc_id 11: odd (has real microdata) and 11 % 9 == 2 (trap)
        _, _, md = harvest_structured(wrap_html_structured("t", 11))
        assert all(k != "trap" for k, _v in md)
        assert ("headline", "Doc — 11") in md

    def test_value_attribute_rules_and_hidden(self):
        page = (
            b"<html><body>"
            b"<div itemscope itemtype='https://schema.org/Event'>"
            b"<time itemprop='startDate' datetime='2026-03-01'>"
            b"March 1st</time>"
            b"<img itemprop='image' src='/poster.jpg'>"
            b"<link itemprop='sameAs' href='https://x.example/e'>"
            b"<span itemprop='location' style='display:none'>"
            b"Hidden Hall</span>"
            b"<time itemprop='doorTime'>6 pm</time>"
            b"</div></body></html>"
        )
        _, _, md = harvest_structured(page)
        d = dict(md)
        assert d["@type"] == "https://schema.org/Event"
        assert d["startDate"] == "2026-03-01"   # datetime attr wins
        assert d["image"] == "/poster.jpg"
        assert d["sameAs"] == "https://x.example/e"
        # microdata in CSS-hidden elements is valid and harvested
        assert d["location"] == "Hidden Hall"
        assert d["doorTime"] == "6 pm"          # time w/o datetime

    def test_unterminated_itemprop_flushes_at_eof(self):
        page = (b"<html><body><div itemscope "
                b"itemtype='https://schema.org/Thing'>"
                b"<span itemprop='name'>cut off here")
        _, _, md = harvest_structured(page)
        assert ("name", "cut off here") in md


class TestLdjsonRows:
    def test_graph_envelope_descends(self):
        raw = ('{"@context": "https://schema.org", "@graph": '
               '[{"@type": "Article", "headline": "H"}]}')
        assert ("@type", "Article") in ldjson_rows(raw)
        assert ("headline", "H") in ldjson_rows(raw)

    def test_unicode_escape_decodes(self):
        assert ldjson_rows('{"headline": "Doc \\u2014 8"}') == [
            ("headline", "Doc — 8")
        ]

    def test_author_flattening(self):
        assert ("author.name", "A") in ldjson_rows(
            '{"author": {"@type": "Person", "name": "A"}}'
        )
        assert ("author", "B") in ldjson_rows('{"author": "B"}')

    def test_bool_is_not_a_count(self):
        # JSON true must not round-trip as 'True' through the int
        # branch (bool is an int subclass)
        assert ldjson_rows('{"wordCount": true}') == []

    def test_malformed_and_scalar_payloads(self):
        assert ldjson_rows('{"@type": "Broken",') == []
        assert ldjson_rows("42") == []
        assert ldjson_rows('"just a string"') == []


class TestSparkStage:
    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.structured import (
            duck_structured_sql,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = structured_data(docs).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        want = con.sql(duck_structured_sql()).df()
        key = ["doc_id", "src", "key", "value"]
        gs = got[key].sort_values(key).reset_index(drop=True)
        ws = want[key].sort_values(key).reset_index(drop=True)
        assert len(gs) == len(ws) and len(gs) > 0
        assert gs.equals(ws)

    def test_plan_one_arrow_pass(self, spark):
        from pdf_extractor_spark.functions.query_catalog import CATALOG

        df = CATALOG["corpus_structured_data"].spark(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        assert "CartesianProduct" not in plan
        # the only exchange is spread's deliberate round-robin of the
        # single small parquet file; no shuffle follows the harvest
        assert plan.count("Exchange") == 1
