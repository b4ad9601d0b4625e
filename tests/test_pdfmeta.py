"""PDF /Info + /Outlines harvesting: text-string spellings (ASCII
literal, UTF-16BE-with-BOM hex), outline tree walk with /First//Next
linkage, the sibling-ring trap terminated by the visited guard,
truncation behavior, and the one-Arrow-pass plan."""

from __future__ import annotations

from pdf_extractor_spark.functions.pdfmeta import (
    pdf_metadata,
    wrap_pdf_meta,
)
from pdf_extractor_spark.operators.pdf_generator import PageSpec, build_pdf
from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

SF = "/root/testdata/sf0.001"


def _page():
    p = PageSpec()
    p.put_words(72.0, 100.0, 12.0, ["Hello", "world"])
    return p


class TestInfo:
    def test_ascii_literals(self):
        doc = parse_pdf(build_pdf(
            [_page()],
            info={"Title": "A Test", "Author": "Someone",
                  "Producer": "writer/1"},
        ))
        assert doc.info == {
            "Title": "A Test", "Author": "Someone",
            "Producer": "writer/1",
        }
        assert not doc.errors

    def test_utf16be_hex_values(self):
        # non-ASCII values serialize as UTF-16BE-with-BOM hex strings
        # (ISO 32000 §7.9.2.2) and must decode back exactly
        doc = parse_pdf(build_pdf(
            [_page()], info={"Title": "日本語の文書", "Author": "Ōe"}
        ))
        assert doc.info["Title"] == "日本語の文書"
        assert doc.info["Author"] == "Ōe"

    def test_literal_escapes(self):
        doc = parse_pdf(build_pdf(
            [_page()], info={"Title": "a(b)\\c"}
        ))
        assert doc.info["Title"] == "a(b)\\c"

    def test_absent_info_is_empty(self):
        doc = parse_pdf(build_pdf([_page()]))
        assert doc.info == {}

    def test_info_never_costs_the_text(self):
        doc = parse_pdf(build_pdf(
            [_page()], info={"Title": "T"}
        ))
        assert list(doc.pages[0].words["text"]) == ["Hello", "world"]


class TestOutline:
    def test_flat_and_nested_depths(self):
        outline = [(0, "Intro"), (1, "Background"), (1, "Scope"),
                   (2, "Detail"), (0, "Methods")]
        doc = parse_pdf(build_pdf([_page()], outline=outline))
        assert doc.outline == outline
        assert not doc.errors

    def test_utf16be_titles(self):
        outline = [(0, "序論"), (0, "方法")]
        doc = parse_pdf(build_pdf([_page()], outline=outline))
        assert doc.outline == outline

    def test_absent_outline_is_empty(self):
        doc = parse_pdf(build_pdf([_page()]))
        assert doc.outline == []

    def test_sibling_ring_terminates_loudly(self):
        # the malformed-writer trap: last top item's /Next points back
        # at the first — every item harvested exactly once, one warning
        outline = [(0, "A"), (1, "A.1"), (0, "B"), (0, "C")]
        doc = parse_pdf(build_pdf(
            [_page()], outline=outline, outline_cycle=True
        ))
        assert doc.outline == outline
        rings = [e for e in doc.errors
                 if "sibling ring" in e["message"]]
        assert len(rings) == 1
        assert rings[0]["severity"] == "warning"

    def test_self_loop_single_item(self):
        doc = parse_pdf(build_pdf(
            [_page()], outline=[(0, "Only")], outline_cycle=True
        ))
        assert doc.outline == [(0, "Only")]
        assert any("sibling ring" in e["message"] for e in doc.errors)

    def test_truncated_outline_degrades(self):
        # chop the file before the outline objects: text salvage still
        # works and the outline degrades (never a critical failure)
        data = build_pdf(
            [_page()], outline=[(0, "Intro"), (0, "Methods")]
        )
        cut = data[: data.rfind(b"/Title")]
        doc = parse_pdf(cut)
        texts = [
            t for pg in doc.pages for t in list(pg.words["text"])
        ]
        assert "Hello" in texts
        assert not any(
            e["severity"] == "critical" for e in doc.errors
        )

    def test_outline_never_costs_the_text(self):
        doc = parse_pdf(build_pdf(
            [_page()], outline=[(0, "S1")], outline_cycle=True
        ))
        assert list(doc.pages[0].words["text"]) == ["Hello", "world"]


class TestWrapper:
    def test_trap_schedule(self):
        # 5 % 11 == 5 → ring; 7 % 13 == 7 → no outline; 3 % 7 == 3 →
        # non-ASCII author
        d5 = parse_pdf(wrap_pdf_meta("t", 5))
        assert any("sibling ring" in e["message"] for e in d5.errors)
        d7 = parse_pdf(wrap_pdf_meta("t", 7))
        assert d7.outline == [] and not d7.errors
        d3 = parse_pdf(wrap_pdf_meta("t", 3))
        assert d3.info["Author"].startswith("Authör")


class TestSparkStage:
    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.pdfmeta import (
            duck_pdf_meta_sql,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = pdf_metadata(docs).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        want = con.sql(duck_pdf_meta_sql()).df()
        cols = sorted(got.columns)
        gs = got[cols].sort_values(cols).reset_index(drop=True)
        ws = want[cols].sort_values(cols).reset_index(drop=True)
        assert len(gs) == len(ws) > 0
        assert (gs.to_numpy() == ws.to_numpy()).all()

    def test_plan_one_arrow_pass(self, spark):
        from pdf_extractor_spark.functions.query_catalog import CATALOG

        df = CATALOG["corpus_pdf_metadata"].spark(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1
        assert "CartesianProduct" not in plan
        assert plan.count("Exchange") == 1  # spread only


class TestSectionChunks:
    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.pdfmeta import (
            duck_section_chunks_sql, section_chunks,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = section_chunks(docs).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        want = con.sql(duck_section_chunks_sql()).df()
        key = ["doc_id", "section_idx"]
        gs = got.sort_values(key).reset_index(drop=True)
        ws = want[got.columns].sort_values(key).reset_index(drop=True)
        assert len(gs) == len(ws) > 0
        assert (gs.to_numpy() == ws.to_numpy()).all()

    def test_chunks_reassemble_to_document(self, spark):
        from pdf_extractor_spark.functions.pdfmeta import (
            section_chunks,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = section_chunks(docs).toPandas()
        texts = {
            r["doc_id"]: r["text"]
            for r in docs.select("doc_id", "text").collect()
        }
        joined = (
            got.sort_values(["doc_id", "section_idx"])
            .groupby("doc_id")["chunk"].apply(" ".join)
        )
        import re

        for doc_id, body in joined.items():
            # strip the harvested headings back out → original text
            stripped = re.sub(r"SEC\d+ ", "", body)
            assert stripped == texts[doc_id], doc_id

    def test_plan_no_exchange_after_spread(self, spark):
        from pdf_extractor_spark.functions.query_catalog import CATALOG

        df = CATALOG["corpus_section_chunks"].spark(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert plan.count("MapInPandas") == 1
        # the boundary math is a narrow map: the only exchange is the
        # doc-id spread feeding the Arrow stage
        assert plan.count("Exchange") == 1


class TestFormFields:
    def test_text_checkbox_hierarchy_roundtrip(self):
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["Hello", "world"])
        pdf = build_pdf([p], form_fields=[
            ("applicant", "山田 太郎"),
            ("agree", True),
            ("newsletter", False),
            ("address", [("line1", "1-2-3 Chiyoda"),
                         ("city", "Tōkyō")]),
        ])
        doc = parse_pdf(pdf)
        assert doc.form_fields == [
            ("applicant", "山田 太郎"),
            ("agree", "Yes"),
            ("newsletter", "Off"),
            ("address.line1", "1-2-3 Chiyoda"),
            ("address.city", "Tōkyō"),
        ]
        assert not doc.errors
        # form data never enters the extracted text
        assert list(doc.pages[0].words["text"]) == ["Hello", "world"]

    def test_no_form_is_empty(self):
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["w"])
        assert parse_pdf(build_pdf([p])).form_fields == []

    def test_truncated_form_degrades(self):
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["Hello"])
        data = build_pdf([p], form_fields=[("a", "1"), ("b", "2")])
        cut = data[: data.rfind(b"/FT")]
        doc = parse_pdf(cut)
        texts = [
            t for pg in doc.pages for t in list(pg.words["text"])
        ]
        assert "Hello" in texts
        assert not any(
            e["severity"] == "critical" for e in doc.errors
        )

    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.pdfmeta import (
            duck_pdf_form_sql, pdf_form_fields,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = pdf_form_fields(docs).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        want = con.sql(duck_pdf_form_sql()).df()
        cols = sorted(got.columns)
        gs = got[cols].sort_values(cols).reset_index(drop=True)
        ws = want[cols].sort_values(cols).reset_index(drop=True)
        assert len(gs) == len(ws) > 0
        assert (gs.to_numpy() == ws.to_numpy()).all()


class TestAttachments:
    def test_flat_and_kids_trees_roundtrip(self):
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["Hello", "world"])
        atts = [("invoice.xml", b"<xml>payload</xml>"),
                ("data.csv", b"a,b\n1,2\n" * 10),
                ("notes.txt", b"plain notes"),
                ("zōne.txt", b"utf16 name")]
        for kids in (False, True):
            doc = parse_pdf(build_pdf(
                [p], attachments=atts, attachments_kids_tree=kids
            ))
            assert sorted(doc.attachments) == sorted(atts), kids
            assert not doc.errors
            assert list(doc.pages[0].words["text"]) == [
                "Hello", "world"
            ]

    def test_no_attachments_is_empty(self):
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["w"])
        assert parse_pdf(build_pdf([p])).attachments == []

    def test_flate_payload_decodes(self):
        # odd-index entries are written Flate-compressed; recovered
        # bytes must be the ORIGINAL payload
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["w"])
        atts = [("a.bin", b"\x00\x01" * 50), ("b.bin", b"\xff" * 200)]
        doc = parse_pdf(build_pdf([p], attachments=atts))
        assert sorted(doc.attachments) == sorted(atts)

    def test_truncated_tree_degrades(self):
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["Hello"])
        data = build_pdf(
            [p], attachments=[("a.txt", b"x"), ("b.txt", b"y")]
        )
        cut = data[: data.rfind(b"/Filespec")]
        doc = parse_pdf(cut)
        texts = [
            t for pg in doc.pages for t in list(pg.words["text"])
        ]
        assert "Hello" in texts
        assert not any(
            e["severity"] == "critical" for e in doc.errors
        )

    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.pdfmeta import (
            duck_pdf_attach_sql, pdf_attachments,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = pdf_attachments(docs).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        want = con.sql(duck_pdf_attach_sql()).df()
        cols = sorted(got.columns)
        gs = got[cols].sort_values(cols).reset_index(drop=True)
        ws = want[cols].sort_values(cols).reset_index(drop=True)
        assert len(gs) == len(ws) > 0
        assert (gs.to_numpy() == ws.to_numpy()).all()


class TestFullMetadata:
    def test_one_parse_all_surfaces(self):
        from pdf_extractor_spark.functions.pdfmeta import (
            wrap_pdf_everything,
        )

        # doc 2: outline + form + checkbox + 2 attachments + link
        doc = parse_pdf(wrap_pdf_everything("some words here", 2))
        assert doc.info["Title"] == "Document 2"
        assert len(doc.outline) == 3
        assert len(doc.form_fields) == 3
        assert len(doc.attachments) == 2
        assert sum(len(p.links) for p in doc.pages) == 1
        assert list(doc.pages[0].words["text"])[:2] == ["some", "words"]

    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.pdfmeta import (
            duck_pdf_full_meta_sql, pdf_full_metadata,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = pdf_full_metadata(docs).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        want = con.sql(duck_pdf_full_meta_sql()).df()
        cols = sorted(got.columns)
        gs = got[cols].sort_values("doc_id").reset_index(drop=True)
        ws = want[cols].sort_values("doc_id").reset_index(drop=True)
        assert len(gs) == len(ws) > 0
        assert (gs.to_numpy() == ws.to_numpy()).all()


class TestXmp:
    def test_roundtrip_with_entities_and_disagreement(self):
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["Hello", "world"])
        doc = parse_pdf(build_pdf(
            [p],
            info={"Title": "Stale"},
            xmp={"title": "Fresh & <new>", "creator": "J",
                 "create_date": "2024-03-01T12:00:00Z"},
        ))
        assert doc.xmp == {
            "title": "Fresh & <new>", "creator": "J",
            "create_date": "2024-03-01T12:00:00Z",
        }
        assert doc.info["Title"] == "Stale"  # both channels surfaced
        assert not doc.errors
        assert list(doc.pages[0].words["text"]) == ["Hello", "world"]

    def test_element_form_create_date(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import (
            _doc_xmp,
        )

        # hand-built element-form serialization (the other legal XMP
        # spelling) routed through the same helper
        packet = (
            b"<rdf:Description>"
            b"<xmp:CreateDate>2023-07-04T00:00:00Z</xmp:CreateDate>"
            b"</rdf:Description>"
        )
        bodies = {
            1: b"<< /Metadata 2 0 R >>",
            2: b"<< /Type /Metadata /Length "
               + str(len(packet)).encode()
               + b" >>\nstream\n" + packet + b"\nendstream",
        }
        out = _doc_xmp(bodies[1], bodies)
        assert out["create_date"] == "2023-07-04T00:00:00Z"

    def test_no_xmp_is_empty(self):
        p = PageSpec()
        p.put_words(72.0, 100.0, 12.0, ["w"])
        assert parse_pdf(build_pdf([p])).xmp == {}

    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.pdfmeta import (
            duck_pdf_xmp_sql, pdf_xmp_metadata,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = pdf_xmp_metadata(docs).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        want = con.sql(duck_pdf_xmp_sql()).df()
        cols = sorted(got.columns)
        gs = got[cols].sort_values("doc_id").reset_index(drop=True)
        ws = want[cols].sort_values("doc_id").reset_index(drop=True)
        assert len(gs) == len(ws) > 0
        assert (gs.to_numpy() == ws.to_numpy()).all()


class TestAnnotations:
    def test_roundtrip_subtypes_pages_authors(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

        p = _page()
        p.put_annot("Text", "needs review", "Alice")
        p.put_annot("FreeText", "コメント", "Bob")
        p2 = _page()
        p2.put_annot("StrikeOut", "drop this", None)
        doc = parse_pdf(build_pdf([p, p2]))
        assert doc.annotations == [
            (1, "Text", "needs review", "Alice"),
            (1, "FreeText", "コメント", "Bob"),
            (2, "StrikeOut", "drop this", ""),
        ]

    def test_popup_geometry_only_and_link_skipped(self):
        from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

        p = _page()
        p.put_annot("Popup", "mirrored body", "Alice")
        p.put_annot("Highlight", None, "ghost")
        p.put_link("https://example.test/nav")
        doc = parse_pdf(build_pdf([p]))
        assert doc.annotations == []
        assert doc.pages[0].links == ["https://example.test/nav"]

    def test_wrapper_schedule_contract(self):
        from pdf_extractor_spark.functions.pdfmeta import wrap_pdf_annots
        from pdf_extractor_spark.operators.pdf_tokenizer import parse_pdf

        # every fifth doc: no annotations at all
        assert parse_pdf(wrap_pdf_annots("a b", 10)).annotations == []
        # doc 22: %5!=0, %4==2 highlight, %3==1 page-2 FreeText,
        # %9==4 → UTF-16BE author decodes exactly
        got = parse_pdf(wrap_pdf_annots("a b", 22)).annotations
        assert got == [
            (1, "Text", "note 22", "rev1"),
            (1, "Highlight", "hl 2", ""),
            (2, "FreeText", "callout 22", "Révïewer"),
        ]
        # doc 16: %9==7 → the ASCII author spelling
        got = parse_pdf(wrap_pdf_annots("a b", 16)).annotations
        assert (2, "FreeText", "callout 16", "Reviewer") in got

    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from pdf_extractor_spark.functions.pdfmeta import (
            duck_pdf_annot_sql, pdf_annotations,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        got = pdf_annotations(docs).toPandas()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF}/documents.parquet')"
        )
        want = con.sql(duck_pdf_annot_sql()).df()
        cols = sorted(got.columns)
        gs = got[cols].sort_values(cols).reset_index(drop=True)
        ws = want[cols].sort_values(cols).reset_index(drop=True)
        assert len(gs) == len(ws) > 0
        assert (gs.to_numpy() == ws.to_numpy()).all()
