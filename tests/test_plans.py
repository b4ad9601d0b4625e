"""Physical-plan regression tests: the BASELINE.md plan audit, encoded
so a future change can't silently trade a broadcast join for a shuffle
or un-push a filter. These assert PLAN SHAPE (the 100 TB contract),
not timings."""

from __future__ import annotations

import re

import pytest

from pdf_extractor_spark.functions.query_catalog import CATALOG

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    """STATIC physical plan (pre-execution): join strategies, scans,
    pushdown, and exchanges as Catalyst planned them — each operator
    printed exactly once (an executed AQE plan string interleaves
    materialized query stages with the result-stage tree, printing
    shared operators twice). AQE can only improve on what's asserted
    here (e.g. SMJ→BHJ at runtime), never regress it."""
    df = CATALOG[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _n(plan: str, op: str) -> int:
    return plan.count(op)


class TestJoinStrategies:
    def test_q3_broadcasts_dims(self, spark):
        plan = _plan(spark, "q3_shipping_priority")
        assert _n(plan, "BroadcastHashJoin") >= 2
        assert _n(plan, "SortMergeJoin") == 0

    def test_q5_snowflake_all_broadcast(self, spark):
        plan = _plan(spark, "q5_region_volume")
        assert _n(plan, "SortMergeJoin") == 0
        assert _n(plan, "CartesianProduct") == 0

    def test_q7_two_role_dims_broadcast(self, spark):
        plan = _plan(spark, "q7_volume_shipping")
        assert _n(plan, "BroadcastHashJoin") >= 4
        assert _n(plan, "SortMergeJoin") == 0

    def test_j1_range_join_broadcasts_small_side(self, spark):
        plan = _plan(spark, "j1_range_containment")
        assert "BroadcastNestedLoopJoin" in plan
        assert _n(plan, "CartesianProduct") == 0

    def test_no_cartesian_anywhere_in_relational_battery(self, spark):
        for name in (
            "q1_pricing_summary", "q6_forecast_revenue",
            "q13_customer_distribution", "q8_market_share",
        ):
            assert _n(_plan(spark, name), "CartesianProduct") == 0, name


class TestPushdownAndPruning:
    def test_q6_predicates_reach_scan(self, spark):
        plan = _plan(spark, "q6_forecast_revenue")
        # the plan string truncates long fields — assert the range
        # predicate appears after the PushedFilters marker
        idx = plan.find("PushedFilters: [")
        assert idx >= 0
        assert "GreaterThanOrEqual(l_shipda" in plan[idx:idx + 400]

    def test_q1_reads_only_needed_columns(self, spark):
        plan = _plan(spark, "q1_pricing_summary")
        m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
        assert m is not None
        cols = [c.split("#")[0].strip() for c in m.group(1).split(",")]
        assert "l_orderkey" not in cols  # unused keys pruned
        # 6 needed columns, not the full 11-column lineitem
        assert len(cols) <= 7


class TestExtractionPipeline:
    def test_pdf_roundtrip_single_exchange_single_arrow_stage(
        self, spark
    ):
        plan = _plan(spark, "extract_pdf_roundtrip")
        assert _n(plan, "MapInPandas") == 1
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1

    def test_roundtrip_scan_is_column_pruned(self, spark):
        plan = _plan(spark, "extract_html_roundtrip")
        m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
        assert m is not None
        cols = [c.split("#")[0].strip() for c in m.group(1).split(",")]
        assert "lang" not in cols  # only doc_id/text enter

    def test_harvest_ops_stay_one_arrow_stage(self, spark):
        # every metadata/compliance harvest is scan → one doc-id
        # spread → one Arrow stage — nothing wide, nothing extra
        for key in ("corpus_pdf_annotations", "corpus_license_signals",
                    "corpus_ai_optout"):
            plan = _plan(spark, key)
            assert _n(plan, "MapInPandas") == 1, key
            assert len(
                re.findall(r"Exchange hashpartitioning", plan)
            ) == 1, key
            assert "Exchange rangepartitioning" not in plan, key
            assert "SortMergeJoin" not in plan, key


class TestDedupShapes:
    def test_lsh_pairs_shuffle_keys_never_text(self, spark):
        # the LSH candidate join must shuffle band keys, not documents
        from pdf_extractor_spark.functions.dedup import (
            lsh_candidate_pairs,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        df = lsh_candidate_pairs(docs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        shuffle_keys = "".join(
            re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        )
        assert shuffle_keys  # there are shuffles...
        assert "text#" not in shuffle_keys  # ...but never on text

    def test_jaccard_verify_join_never_ships_text_or_shingles(self, spark):
        """Round-2 verdict item #6: the exact-Jaccard verify join must
        ship 60-bit shingle-HASH arrays, never raw shingle strings —
        no string-array column crosses any exchange in the verify
        pipeline (hash arrays are array<bigint>)."""
        from pdf_extractor_spark.functions.dedup import (
            ngram_jaccard_pairs,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        df = ngram_jaccard_pairs(docs, threshold=0.7)
        plan = df._jdf.queryExecution().executedPlan().toString()
        shuffle_keys = "".join(
            re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        )
        assert shuffle_keys
        # the shingling happens behind the checkpoint boundary: the
        # executed verify plan references NO text or shingle-string
        # column anywhere — its only wide inputs are (doc_id, band*)
        # signatures and (doc_id, sh:array<bigint>) hash sets
        assert "text#" not in plan
        assert "shingles#" not in plan

    @pytest.mark.parametrize(
        "name", ["dedup_exact", "dedup_minhash_signatures"]
    )
    def test_signature_stages_have_no_cartesian(self, spark, name):
        assert _n(_plan(spark, name), "CartesianProduct") == 0


class TestUrlCanonicalPlan:
    def test_single_window_exchange_on_canonical_key(self, spark):
        import re

        plan = _plan(spark, "corpus_url_canonical")
        # one narrow map + ONE shuffle: the row_number window
        # partitioned by the canonical url — nothing else exchanges
        keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert len(keys) == 1, plan
        assert "canonical_url" in keys[0]
        assert "CartesianProduct" not in plan
        # canonicalization stays whole-stage-codegen (no UDFs)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestBpePlan:
    def test_scan_project_one_arrow_stage_no_exchange(self, spark):
        plan = _plan(spark, "text_bpe_token_counts")
        # one Arrow-batched stage, nothing row-at-a-time, no shuffle
        assert _n(plan, "MapInPandas") == 1
        assert "BatchEvalPython" not in plan
        assert "Exchange" not in plan
        # column pruning reached the scan: only doc_id + text read
        m = re.search(r"ReadSchema: ([^\n]*)", plan)
        assert m and "doc_id" in m.group(1) and "text" in m.group(1)
        assert "lang" not in m.group(1)


class TestMultimodalPlan:
    def test_decode_is_two_arrow_stages_one_exchange(self, spark):
        plan = _plan(spark, "multimodal_decode")
        # payload synth + decode, each Arrow-batched; the only
        # exchange is the explicit doc_id repartition
        assert _n(plan, "MapInPandas") == 2
        assert "BatchEvalPython" not in plan
        keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert len(keys) == 1 and "doc_id" in keys[0], plan


class TestParagraphDedupPlan:
    def test_pure_projection_zero_exchanges(self, spark):
        """Intra-document dedup has no cross-row relation: the plan
        must be scan → one codegen'd Project — NO exchange, NO UDF
        stage (the explode → window formulation would cost a full
        shuffle on doc_id for nothing)."""
        plan = _plan(spark, "text_paragraph_dedup")
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "MapInPandas" not in plan
        # column pruning reached the scan
        m = re.search(r"ReadSchema: ([^\n]*)", plan)
        assert m and "doc_id" in m.group(1) and "text" in m.group(1)
        assert "lang" not in m.group(1)


class TestReadabilityPlan:
    def test_narrow_map_zero_exchanges(self, spark):
        plan = _plan(spark, "text_readability")
        # orderBy adds one final sort exchange; nothing else shuffles
        assert plan.count("Exchange") <= 1, plan
        assert "Python" not in plan
        m = re.search(r"ReadSchema: ([^\n]*)", plan)
        assert m and "doc_id" in m.group(1) and "text" in m.group(1)
        assert "lang" not in m.group(1)


class TestVocabTopkPlan:
    def test_partial_agg_and_topk_operator(self, spark):
        plan = _plan(spark, "corpus_vocab_topk")
        # map-side combine before the token exchange
        assert "partial_count" in plan, plan
        # orderBy+limit must compile to the streaming top-K operator,
        # never a global sort of all tokens
        assert "TakeOrderedAndProject" in plan, plan
        m = re.search(r"ReadSchema: ([^\n]*)", plan)
        assert m and "lang" not in m.group(1)


class TestNfcAuditPlan:
    def test_one_arrow_stage_zero_exchanges(self, spark):
        plan = _plan(spark, "text_nfc_audit")
        assert "Exchange" not in plan, plan
        # exactly one Arrow-batched python stage, never per-row
        assert plan.count("ArrowEvalPython") == 1, plan
        assert "BatchEvalPython" not in plan


class TestShardManifestPlan:
    def test_doc_window_partitioned_offsets_broadcast(self, spark):
        plan = _plan(spark, "corpus_shard_manifest")
        # the per-document cumulative sum must run PARTITIONED BY
        # bucket (parallel), never as one global window over the
        # corpus; the tiny bucket-offset table joins via broadcast
        import re as _re

        doc_wins = [
            ln for ln in plan.splitlines()
            if "Window [" in ln and "doc_id" in ln
        ]
        # partition spec is the second bracket group: "], [bkt..."
        assert doc_wins and all(
            _re.search(r"\], \[bkt#\d+L\]", ln) for ln in doc_wins
        ), plan
        assert "BroadcastHashJoin" in plan, plan
        m = _re.search(r"ReadSchema: ([^\n]*)", plan)
        assert m and "text" in m.group(1) and "lang" not in m.group(1)


class TestSplitHoldoutPlan:
    def test_pure_projection_zero_exchanges(self, spark):
        plan = _plan(spark, "corpus_split_holdout")
        assert "Exchange" not in plan, plan
        assert "Python" not in plan
        m = re.search(r"ReadSchema: ([^\n]*)", plan)
        # only the url-synthesis inputs are read, never text
        assert m and "text" not in m.group(1)


class TestImageLegPlans:
    """The round-4 image legs share the decode-leg layout contract:
    media bytes are born on the partition that decodes them — the
    only exchange carries 8-byte doc_ids (or none at all for the
    spread-based harvests), and no per-row Python stage exists."""

    def test_jpeg_decode_two_arrow_stages_one_exchange(self, spark):
        plan = _plan(spark, "multimodal_jpeg_decode")
        assert _n(plan, "MapInPandas") == 2
        assert "BatchEvalPython" not in plan
        keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert len(keys) == 1 and "doc_id" in keys[0], plan

    def test_jpeg_thumbnail_same_shape(self, spark):
        plan = _plan(spark, "multimodal_jpeg_thumbnail")
        assert _n(plan, "MapInPandas") == 2
        assert "BatchEvalPython" not in plan
        keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert len(keys) == 1 and "doc_id" in keys[0], plan

    def test_pdf_image_harvest_single_arrow_stage(self, spark):
        """PDF synthesis + parse + JPEG decode all live in ONE
        mapInPandas (the document wrapper pattern): page bytes
        never exist outside the stage that consumes them."""
        plan = _plan(spark, "corpus_pdf_images")
        assert _n(plan, "MapInPandas") == 1
        assert "BatchEvalPython" not in plan

    def test_inline_image_harvest_single_arrow_stage(self, spark):
        plan = _plan(spark, "corpus_inline_images")
        assert _n(plan, "MapInPandas") == 1
        assert "BatchEvalPython" not in plan


class TestTrigramKnPlan:
    def test_text_hashed_once_and_never_shuffled(self, spark):
        """The corpus text reaches exactly one scan-side projection
        (the trigram hasher); every exchange afterwards carries
        8-byte hashes and counts, never text."""
        plan = _plan(spark, "text_trigram_kn")
        assert "BatchEvalPython" not in plan
        for keys in re.findall(
            r"Exchange hashpartitioning\(([^)]*)\)", plan
        ):
            assert "text" not in keys, keys
        # no cartesian anywhere (the nt scalar joins via broadcast)
        assert "CartesianProduct" not in plan


class TestRowMap:
    """``plans/rowmap.map_rows``: one mapInPandas stage, ``fn(*row)``
    yields 0..n output tuples in schema order."""

    @staticmethod
    def _fan(spark):
        from pdf_extractor_spark.plans.rowmap import map_rows

        def fan(n, tag):  # n output rows for an input row
            for i in range(n):
                yield tag, n, i

        df = spark.createDataFrame(
            [(0, "zero"), (1, "one"), (3, "many")], "n long, tag string"
        )
        return map_rows(df, fan, "tag string, n long, i int")

    def test_zero_one_and_many_rows_per_input(self, spark):
        rows = sorted(tuple(r) for r in self._fan(spark).collect())
        assert rows == [
            ("many", 3, 0), ("many", 3, 1), ("many", 3, 2), ("one", 1, 0),
        ]

    def test_columns_follow_the_schema_not_the_input(self, spark):
        out = self._fan(spark)
        assert out.dtypes == [
            ("tag", "string"), ("n", "bigint"), ("i", "int"),
        ]

    def test_empty_input_batch_yields_typed_empty_frame(self, spark):
        import pandas as pd

        from pdf_extractor_spark.plans.rowmap import map_rows

        class Capture:
            def mapInPandas(self, body, schema):
                self.body = body
                return self

        cap = map_rows(Capture(), lambda n: iter(()), "n long, tag string")
        empty = pd.DataFrame({"n": pd.Series([], dtype="int64")})
        (out,) = list(cap.body(iter([empty])))
        assert list(out.columns) == ["n", "tag"] and len(out) == 0

    def test_no_output_rows_at_all(self, spark):
        from pdf_extractor_spark.plans.rowmap import map_rows

        df = spark.createDataFrame([(1,), (2,)], "n long")
        out = map_rows(df, lambda n: iter(()), "n long, tag string")
        assert out.collect() == []

    def test_plan_is_one_map_in_pandas_no_per_row_udf(self, spark):
        plan = self._fan(spark)._jdf.queryExecution().executedPlan()
        plan = plan.toString()
        assert _n(plan, "MapInPandas") == 1
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


# Every mapInPandas body that iterates ``batches`` itself, as
# "module::qualname". Per-row work goes through rowmap.map_rows; a body
# belongs here only when it needs more than one row at a time.
_BATCH_BODIES = {
    # the row-map stage itself
    "plans/rowmap.py::map_rows.body",
    # production kernel: stamps per-batch lineage (batch_id, batch_ms)
    "plans/pipeline.py::_make_extract_iter.extract_iter",
    # several rows become one archive or file
    "sources/warc.py::_warc_iter",
    "sources/warc.py::_wet_iter",
    "sources/warc.py::_captures_iter",
    "sources/warc.py::_recrawl_iter",
    "sources/cdx.py::_cdx_iter",
    "sources/sitemaps.py::_sitemap_iter",
    # a memo shared across the rows of a partition
    "functions/dedup.py::minhash_mapinpandas.fn",
    "functions/dedup.py::enriched_mapinpandas.fn",
    "functions/bpe.py::bpe_counts_pandas",
    # column-vectorised over the whole batch
    "functions/dedup.py::simhash_mapinpandas.fn",
    "functions/templates.py::host_template_report.fn",
    "functions/similarity.py::assign_cells_mapinpandas.fn",
}


def _batch_bodies() -> set[str]:
    """Functions whose own body (not a nested def) runs a loop or
    comprehension over ``batches`` or a call on it (``enumerate``)."""
    import ast
    import pathlib

    import pdf_extractor_spark

    pkg = pathlib.Path(pdf_extractor_spark.__file__).parent
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)

    def over_batches(it: ast.expr) -> bool:
        args = it.args if isinstance(it, ast.Call) else [it]
        return any(isinstance(a, ast.Name) and a.id == "batches"
                   for a in args)

    def loops_over_batches(fn: ast.AST) -> bool:
        stack = list(ast.iter_child_nodes(fn))
        while stack:
            node = stack.pop()
            if isinstance(node, (*funcs, ast.Lambda)):
                continue
            if isinstance(node, (ast.For, ast.comprehension)) and (
                over_batches(node.iter)
            ):
                return True
            stack.extend(ast.iter_child_nodes(node))
        return False

    found: set[str] = set()
    for path in pkg.rglob("*.py"):
        module = path.relative_to(pkg).as_posix()
        todo = [(ast.parse(path.read_text()), "")]
        while todo:
            node, prefix = todo.pop()
            for child in ast.iter_child_nodes(node):
                if isinstance(child, funcs):
                    qual = prefix + child.name
                    if loops_over_batches(child):
                        found.add(f"{module}::{qual}")
                    todo.append((child, qual + "."))
                elif isinstance(child, ast.ClassDef):
                    todo.append((child, prefix + child.name + "."))
                else:
                    todo.append((child, prefix))
    return found


def test_batch_loops_only_where_rows_are_not_independent():
    """A new hand-rolled per-row ``for pdf in batches`` body fails
    here: route it through ``map_rows``, or add it to the allow-list
    with the reason it needs more than one row."""
    assert _batch_bodies() == _BATCH_BODIES
