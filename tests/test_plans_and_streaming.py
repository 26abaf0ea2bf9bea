"""Physical-plan shape assertions (the 100 TB design checks) +
streaming batch-parity test.

These tests read .explain() output: at scale the difference between a
broadcast hash join and a shuffle join, or between a pushed and
unpushed filter, is the difference between a job that works and one
that doesn't (task brief: "explain('formatted') the plan and iterate").
"""

import os

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _plan_node_names(df) -> list:
    """Node names of the executed plan, walked as a tree (each node
    once; ``explain("formatted")`` prints every node twice). An adaptive
    plan is a leaf wrapper, so the walk descends into its current plan."""

    def walk(node):
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        kids = node.children()
        out = [node.nodeName()]
        for i in range(kids.size()):
            out += walk(kids.apply(i))
        return out

    return walk(df._jdf.queryExecution().executedPlan())


def _analyzed_expr_classes(df) -> set:
    """Class names of every expression in the analysed plan (works for
    streaming DataFrames, which have no executed plan until started)."""

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk_expr(e):
        out = {e.getClass().getSimpleName()}
        for c in seq(e.children()):
            out |= walk_expr(c)
        return out

    def walk(node):
        out = set()
        for e in seq(node.expressions()):
            out |= walk_expr(e)
        for c in seq(node.children()):
            out |= walk(c)
        return out

    return walk(df._jdf.queryExecution().analyzed())


class TestPlanShapes:
    def test_pip_join_is_broadcast(self, spark):
        """The polygon-cover side must broadcast: shuffling the points
        side on cell would move the whole corpus at scale."""
        from georeader_spark.pipeline import pip_polytable
        from georeader_spark.operators.pip_join import pip_join

        pts = spark.range(1000).select(
            F.col("id").alias("point_id"),
            (F.col("id") % 40 - 10.0).cast("double").alias("lon"),
            (F.col("id") % 25 + 35.0).cast("double").alias("lat"),
        )
        plan = _plan(pip_join(pts, pip_polytable(), r=6))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_pip_refine_stays_at_join_and_codegens(self, spark):
        """The exprs refine carries its coefficients as broadcast-side
        columns (pip_join._pip_join_exprs): the predicate references
        both join sides, so it must NOT sink below the join into the
        points lineage, and — being O(max_edges), not O(n_polygons) —
        the join stage must stay inside whole-stage codegen (the
        round-1 literal OR-chain blew the 64 KB janino limit and
        dropped the stage to interpreted mode)."""
        from georeader_spark.pipeline import pip_polytable
        from georeader_spark.operators.pip_join import pip_join

        pts = spark.range(1000).select(
            F.col("id").alias("point_id"),
            (F.col("id") % 40 - 10.0).cast("double").alias("lon"),
            (F.col("id") % 25 + 35.0).cast("double").alias("lat"),
        )
        df = pip_join(pts, pip_polytable(), r=6, refine="exprs")
        df.collect()  # AQE only finalizes (and codegens) stages on execution
        # keep only the AQE final plan — the echoed "Initial Plan"
        # section never carries whole-stage-codegen markers
        plan = _plan(df).split("== Initial Plan ==")[0]
        join_lines = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln]
        assert join_lines, plan
        # '*(n) BroadcastHashJoin' == the join participates in a
        # WholeStageCodegen span (interpreted fallback loses the marker)
        assert all("*(" in ln for ln in join_lines), join_lines
        # the half-plane ARITHMETIC lives only in the join condition —
        # the broadcast scan may list the coefficient columns (that is
        # the design), but no operator below the join computes with them
        import re

        for ln in plan.splitlines():
            if re.search(r"_e\d+_dx#\d+ \*", ln):
                assert "BroadcastHashJoin" in ln, ln

    def test_pipeline_extract_not_duplicated_into_scan(self, spark):
        """Without a lineage cut, a pushable points-side refine would
        duplicate the geotag regex extraction throughout the scan
        filter (~2 per polygon edge in round 1). With broadcast-side
        coefficients only the lon/lat projections and the IsNotNull
        pushdown may reference the regex — a small constant."""
        from georeader_spark.pipeline import pages_pipeline

        plan = _plan(pages_pipeline(spark, n_rows=2000))
        assert plan.count("geo.position") <= 8, plan.count("geo.position")

    def test_join_orders_nation_never_broadcasts_customer(self, spark, sf_dir):
        """customer is sf-scaled (150k rows/SF): broadcasting it OOMs
        at cluster scale. Only the 25-row nation dim may broadcast, and
        orders must partial-aggregate per custkey before the join."""
        from georeader_spark.queries import q_join_orders_nation

        df = q_join_orders_nation(spark, sf_dir)
        opt = _optimized(df)
        # the only ResolvedHint/broadcast target must be nation
        for line in opt.splitlines():
            if "broadcast" in line.lower() and "hint" in line.lower():
                assert "customer" not in line.lower()
        plan = _plan(df)
        # pre-agg on custkey happens below the customer join: the
        # HashAggregate on o_custkey must exist
        assert "o_custkey" in plan and "HashAggregate" in plan

    def test_flagship_extraction_not_pushed_into_scan(self, spark):
        """Round-3 gate-join: the extraction-invariant predicate joins
        against a broadcast 1-row relation, so the html decode +
        extraction regexes must NOT appear in the parquet scan's
        DataFilters (round 2's .where() pushed them there — the decode
        ran 3x/row). Regression-pins the -21% flagship win."""
        import tempfile

        from georeader_spark.pipeline import pages_pipeline
        from georeader_spark.sources.pages import pages

        with tempfile.TemporaryDirectory() as td:
            path = f"{td}/pages.parquet"
            pages(spark, 500).write.parquet(path)
            df = spark.read.parquet(path)
            out = pages_pipeline(spark, pages_df=df, repartition=False)
            plan = _plan(out)
            scan_lines = [
                l for l in plan.splitlines()
                if "FileScan" in l or "Scan parquet" in l
            ]
            assert scan_lines, "expected a parquet scan in the plan"
            for l in scan_lines:
                assert "regexp" not in l, "extraction regex pushed into scan"
            # the gate itself is a join whose condition references _pass
            assert "_pass" in plan
            out.count()  # and it still runs

    def test_salted_join_exact_and_spreads_hot_key(self, spark, sf_dir):
        """salted_join must (a) equal the naive join bit-for-bit and
        (b) actually join on (key, salt) with >1 distinct salt on the
        hot key — the skew-spread evidence at plan+data level."""
        from georeader_spark.queries import skew_join_agg
        from georeader_spark.plans.lineage import salted_join
        from georeader_spark.queries import _skew_fixture

        a = sorted(map(tuple, skew_join_agg(spark, sf_dir, salted=True).collect()))
        b = sorted(map(tuple, skew_join_agg(spark, sf_dir, salted=False).collect()))
        assert a == b
        facts, dim = _skew_fixture(spark, sf_dir, amplify=8)
        joined = salted_join(facts, dim, "cell", hot_threshold=2000,
                             n_salts=32, id_col="fact_id")
        n_salts_hot = (
            joined.where(F.col("cell") == 0).select("salt").distinct().count()
        )
        assert n_salts_hot > 1, "hot key did not spread over salts"

    def test_parquet_filter_pushdown(self, spark, sf_dir):
        """Predicates on the scan must reach parquet (PushedFilters)."""
        df = spark.read.parquet(f"{sf_dir}/events.parquet").where(
            F.col("user_id") == 7
        ).select("event_id")
        plan = _plan(df)
        assert "PushedFilters: [" in plan and "user_id" in plan.split("PushedFilters")[1][:120]
        # column pruning: only the needed columns in ReadSchema
        assert "ts" not in plan.split("ReadSchema")[1][:200]

    def test_window_read_no_shuffle(self, spark):
        """Aligned-grid fast-path read is a pure narrow plan: filter +
        project, zero exchanges (read.py:1530-1547's '10-100x faster')."""
        from georeader_spark.operators import raster as R

        src = R.synth_raster(spark, 1, 100, 120)
        plan = _plan(R.window_read(src, 10, 10, 50, 40))
        assert "Exchange" not in plan

    def test_cell_count_partial_agg(self, spark, sf_dir):
        """groupBy(cell).count() must run map-side partial aggregation
        (two HashAggregate nodes around one Exchange)."""
        from georeader_spark.queries import q_cell_count

        plan = _plan(q_cell_count(spark, sf_dir))
        assert plan.count("HashAggregate") >= 2
        assert plan.count("Exchange") <= 2  # partial->exchange->final (+AQE read)

    def test_knn_bruteforce_broadcasts_queries(self, spark, sf_dir):
        from georeader_spark.queries import q_knn_bruteforce

        plan = _plan(q_knn_bruteforce(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_griddata_nearest_no_cross_join(self, spark, sf_dir):
        """Round-1 Voronoi was grid.crossJoin(points) — all-pairs. The
        knn_join rewrite must plan only equi-joins on cell keys (the
        straggler brute-force path stays empty on this dense fixture)."""
        from georeader_spark.queries import q_griddata_nearest

        plan = _plan(q_griddata_nearest(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_pyramid_sink_partition_pruning(self, spark, tmp_path):
        """The persisted pyramid (save_cog analog) must partition-prune
        on level: reading out-shape 12x12 scans ONLY level 2's files."""
        from georeader_spark.operators import raster as R

        src = R.synth_raster(spark, 1, 96, 96, bands=1)
        path = str(tmp_path / "pyr.parquet")
        R.save_pyramid(R.build_overview_pyramid(src, levels=2), path)
        pyr = spark.read.parquet(path)
        out = R.read_out_shape_pyramid(pyr, 96, 96, 12, 12, max_level=2)
        plan = _plan(out)
        assert "PartitionFilters: [" in plan
        assert "level" in plan.split("PartitionFilters")[1][:120]
        assert out.count() == 144

    def test_lod_pyramid_prunes_to_level(self, spark, sf_dir):
        """read_out_shape against the pyramid must touch ONLY the
        selected level: the per-branch level literal lets Catalyst
        constant-fold the filter and drop the other union branches
        entirely (the optimized plan has no Union and no base scan)."""
        from georeader_spark.operators import raster as R

        src = R.synth_raster(spark, 1, 96, 96, bands=1)
        pyr = R.build_overview_pyramid(src, levels=2)
        out = R.read_out_shape_pyramid(pyr, 96, 96, 12, 12, max_level=2)
        plan = _optimized(out)
        assert "Union" not in plan  # other levels pruned at plan time
        assert out.count() == 144

    def test_tile_assign_stays_codegen(self, spark, sf_dir):
        """Tile assignment is pure expressions: whole-stage codegen, no
        Python, no exchange."""
        from georeader_spark.queries import q_tile_assign

        df = q_tile_assign(spark, sf_dir)
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "*(1)" in plan  # whole-stage-codegen stage marker
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_mosaic_single_shuffle(self, spark):
        """First-valid-wins mosaic = one shuffle on the pixel key with
        partial agg (min_by), not a window-sort plan."""
        from georeader_spark.operators import raster as R

        a = R.synth_raster(spark, 1, 50, 60)
        b = R.synth_raster(spark, 2, 50, 60, mult=997777777)
        plan = _plan(R.spatial_mosaic(a.unionByName(b)))
        # at most one shuffle for the agg (AQE may add AQEShuffleRead);
        # zero when the data-sized generator partitioning (r6) yields a
        # single input partition, which already satisfies the agg's
        # clustering requirement — strictly better than one exchange
        assert plan.count("Exchange hashpartitioning") <= 1
        assert "min_by" in plan
        assert "Window" not in plan


class TestStreaming:
    def test_streaming_matches_batch(self, spark, tmp_path):
        """AvailableNow drain of the streaming cell counts equals the
        batch computation on the same input."""
        from georeader_spark.functions.geo import cell_encode
        from georeader_spark.pipeline import extract_stage
        from georeader_spark.sources.pages import pages
        from georeader_spark.streaming.cell_counts import (
            run_available_now,
            streaming_cell_counts,
        )

        src_dir = str(tmp_path / "pages")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        pdf = pages(spark, 2000)
        pdf.write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema

        stream = streaming_cell_counts(spark, src_dir, schema, r=7)
        run_available_now(stream, out_dir, ckpt)
        got = {
            (r["day_start"], r["cell"]): r["n_pages"]
            for r in spark.read.parquet(out_dir).collect()
        }

        batch = extract_stage(spark.read.parquet(src_dir)).where(
            F.col("lon").isNotNull()
        )
        expect_df = (
            batch.withColumn("cell", cell_encode(F.col("lon"), F.col("lat"), 7))
            .groupBy(F.window("warc_ts", "1 day").alias("day"), "cell")
            .agg(F.count("*").alias("n"))
            .select(F.col("day.start").alias("day_start"), "cell", "n")
        )
        expect = {(r["day_start"], r["cell"]): r["n"] for r in expect_df.collect()}
        # append mode only emits windows the watermark has closed: the
        # final (watermark + window) span of event time stays open at
        # end-of-stream and is withheld — correct streaming semantics.
        import datetime as dt

        max_ts = max(k[0] for k in expect)
        closed_cutoff = max_ts - dt.timedelta(days=3)
        closed_expect = {k: v for k, v in expect.items() if k[0] <= closed_cutoff}
        for k, v in closed_expect.items():
            assert got.get(k) == v, k
        for k in got:
            assert expect.get(k) == got[k], k
        assert len(got) >= len(closed_expect) > 0

    def test_streaming_full_pipeline_matches_batch(self, spark, tmp_path):
        """AvailableNow drain of the FULL streaming north-rule pipeline
        (extract -> cell -> broadcast PIP join -> tile -> watermarked
        window counts) equals the batch pipeline grouped the same way."""
        from georeader_spark.functions.geo import cell_encode
        from georeader_spark.operators.pip_join import pip_join
        from georeader_spark.operators.tiling import assign_points_to_tiles
        from georeader_spark.pipeline import extract_stage, pip_polytable
        from georeader_spark.queries import CELL_R, TILE_SIZE, TILE_TRANSFORM
        from georeader_spark.sources.pages import pages
        from georeader_spark.streaming.cell_counts import (
            run_available_now,
            streaming_pages_pipeline,
        )

        src_dir = str(tmp_path / "pages")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        pages(spark, 2000).write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema

        stream = streaming_pages_pipeline(spark, src_dir, schema)
        run_available_now(stream, out_dir, ckpt)
        got = {
            (r["day_start"], r["cell"], r["poly_id"], r["tile_row"],
             r["tile_col"]): r["n_pages"]
            for r in spark.read.parquet(out_dir).collect()
        }
        assert got, "stream emitted no closed windows"

        batch = extract_stage(spark.read.parquet(src_dir)).where(
            F.col("text_ok") & F.col("lon").isNotNull()
        ).withColumn("cell", cell_encode(F.col("lon"), F.col("lat"), CELL_R))
        joined = pip_join(
            batch.select("warc_ts", "lon", "lat", "cell"), pip_polytable(), r=6
        )
        tiled = assign_points_to_tiles(
            joined, TILE_TRANSFORM, TILE_SIZE, x_col="lon", y_col="lat"
        )
        expect_df = (
            tiled.groupBy(
                F.window("warc_ts", "1 day").alias("day"),
                "cell", "poly_id", "tile_row", "tile_col",
            )
            .agg(F.count("*").alias("n"))
            .select(F.col("day.start").alias("day_start"), "cell",
                    "poly_id", "tile_row", "tile_col", "n")
        )
        expect = {
            (r["day_start"], r["cell"], r["poly_id"], r["tile_row"],
             r["tile_col"]): r["n"]
            for r in expect_df.collect()
        }
        # append mode withholds windows the watermark has not closed
        for k, v in got.items():
            assert expect.get(k) == v, k

    def test_streaming_exact_dedup_matches_batch(self, spark, tmp_path):
        """First-arrival streaming dedup == batch keep-first when the
        whole input drains in one trigger (intra-batch winner is
        min(doc_id) by contract)."""
        from georeader_spark.operators.dedup import exact_dedup_keep_first
        from georeader_spark.streaming.cell_counts import run_available_now
        from georeader_spark.streaming.dedup import streaming_exact_dedup

        src_dir = str(tmp_path / "docs")
        docs = spark.range(0, 1000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("body-"), (F.col("id") % 300).cast("string"))
            .alias("text"),
        )
        docs.write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema

        stream = streaming_exact_dedup(
            spark.readStream.schema(schema).parquet(src_dir)
        )
        out_dir = str(tmp_path / "out")
        run_available_now(stream, out_dir, str(tmp_path / "ckpt"))
        got = {r.text_md5: r.doc_id
               for r in spark.read.parquet(out_dir).collect()}

        kept = exact_dedup_keep_first(spark.read.parquet(src_dir))
        expect = {
            r.md5: r.doc_id
            for r in kept.select(
                F.md5(F.encode("text", "UTF-8")).alias("md5"), "doc_id"
            ).collect()
        }
        assert got == expect
        assert len(got) == 300

    def test_streaming_exact_dedup_restart_no_reemit(self, spark, tmp_path):
        """Checkpointed seen-state survives a restart: a second drain
        over late-arriving duplicates emits NOTHING for already-seen
        bodies and exactly the new distinct ones."""
        from georeader_spark.streaming.cell_counts import run_available_now
        from georeader_spark.streaming.dedup import streaming_exact_dedup

        src_dir = str(tmp_path / "docs")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        part1 = spark.range(0, 400).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("b-"), (F.col("id") % 100).cast("string"))
            .alias("text"),
        )
        part1.write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema

        def drain():
            stream = streaming_exact_dedup(
                spark.readStream.schema(schema).parquet(src_dir)
            )
            run_available_now(stream, out_dir, ckpt)

        drain()
        first = {r.text_md5: r.doc_id
                 for r in spark.read.parquet(out_dir).collect()}
        assert len(first) == 100

        # late batch: 150 docs, 100 duplicate every part-1 body, 50 new
        part2 = spark.range(1000, 1150).select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") < 1100,
                F.concat(F.lit("b-"), (F.col("id") % 100).cast("string")),
            ).otherwise(
                F.concat(F.lit("new-"), F.col("id").cast("string"))
            ).alias("text"),
        )
        part2.write.mode("append").parquet(src_dir)
        drain()
        after = {r.text_md5: r.doc_id
                 for r in spark.read.parquet(out_dir).collect()}
        # nothing re-emitted, survivors unchanged for seen bodies
        assert all(after[k] == v for k, v in first.items())
        # exactly the 50 new distinct bodies appeared, ids from part 2
        new = {k: v for k, v in after.items() if k not in first}
        assert len(new) == 50 and all(v >= 1100 for v in new.values())

    def test_stateful_sessions_match_batch(self, spark, tmp_path):
        """applyInPandasWithState sessionizer: the CLOSED sessions the
        stream emits equal the batch gap-sessionization minus each
        user's final (still-open) session."""
        from georeader_spark.streaming.cell_counts import run_available_now
        from georeader_spark.streaming.stateful_sessions import (
            SESSION_GAP_S,
            streaming_sessions,
        )

        # deterministic events: 20 users x 40 events with gaps > and <
        # the session threshold
        rows = []
        for u in range(20):
            t = 1_700_000_000 + u * 17
            for i in range(40):
                t += 120 if (i % 7) else (SESSION_GAP_S + 60)
                rows.append((u, t))
        src_dir = str(tmp_path / "ev")
        spark.createDataFrame(rows, "user_id long, ts_epoch long").repartition(
            4
        ).write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema

        stream = spark.readStream.schema(schema).parquet(src_dir)
        out_dir = str(tmp_path / "sess_out")
        ckpt = str(tmp_path / "sess_ckpt")
        run_available_now(streaming_sessions(stream), out_dir, ckpt)
        got = {
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in spark.read.parquet(out_dir).collect()
        }

        # batch oracle: per-user gap split in python
        import collections

        by_user = collections.defaultdict(list)
        for u, t in rows:
            by_user[u].append(t)
        expect = set()
        for u, ts in by_user.items():
            ts.sort()
            start, last, n = ts[0], ts[0], 1
            sessions = []
            for t in ts[1:]:
                if t - last > SESSION_GAP_S:
                    sessions.append((u, start, last, n))
                    start, last, n = t, t, 1
                else:
                    last, n = t, n + 1
            # final session stays OPEN in state (timeout not reached in
            # an AvailableNow drain) — excluded from parity
            expect.update(sessions)
        assert got == expect
        assert len(expect) > 0


class TestNewOpPlanShapes:
    def test_read_rpcs_no_python_in_plan(self, spark):
        """The RPC forward model must compile to JVM expressions — the
        whole gather plan contains no Python evaluation nodes."""
        from georeader_spark.kernels.affine import Affine
        from georeader_spark.operators import raster as R
        from georeader_spark.queries import _RPC_FIXTURE

        src = R.synth_raster(spark, 1, 100, 120, bands=1)
        t = Affine.from_origin(0.0, 1.0, 0.01, 0.01)
        out = R.read_rpcs(src, _RPC_FIXTURE, t, 60, 60)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_laea_forward_no_python_in_plan(self, spark, sf_dir):
        from georeader_spark.queries import q_transform_crs_laea

        df = q_transform_crs_laea(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_valid_footprint_partial_agg(self, spark):
        """Channel-agg mask is one hash aggregate with a map-side
        partial (two HashAggregate nodes around one Exchange)."""
        from georeader_spark.operators import raster as R

        src = R.synth_raster(spark, 1, 40, 40, bands=3)
        mask = R.valid_footprint_mask(src)
        plan = mask._jdf.queryExecution().executedPlan().toString()
        # at most one exchange; zero when the data-sized generator
        # partitioning (r6) yields a single input partition, which
        # already satisfies the agg's clustering requirement
        assert plan.count("Exchange") <= 1
        assert "BatchEvalPython" not in plan

    def test_pq_adc_search_has_partial_rank(self, spark, sf_dir):
        """The flat-PQ ADC search must rank per (query, scan partition)
        BEFORE the global per-query rank — without the partial stage the
        window shuffles all |corpus| x |Q| scored rows into |Q| sort
        partitions (round-3 verdict "What's wrong #1"). Same check for
        the IVF-PQ probed-list tail."""
        from georeader_spark.operators import similarity as S

        vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        queries = vecs.where(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding")
        )
        books = S.pq_train_codebooks(vecs, m_subspaces=8, n_codes=16, iters=0)
        codes = S.pq_encode(vecs, books)
        plan = _plan(S.ann_topk_pq(vecs, codes, queries, books, k=5))
        assert "_prank" in plan, "partial per-partition rank stage missing (PQ)"
        assert "_pid" in plan  # partition spread key feeds the partial rank
        cents, books2, codes2 = S.ivfpq_build(
            vecs, n_lists=4, m_subspaces=8, n_codes=16, iters=0
        )
        plan2 = _plan(S.ann_topk_ivfpq(
            vecs, codes2, cents, books2, queries, k=5, n_probe=2
        ))
        assert "_prank" in plan2, "partial rank stage missing (IVF-PQ)"


class TestSaltedJoinHotKeys:
    def test_precomputed_hot_keys_match_detection(self, spark, sf_dir):
        """salted_join(hot_keys=...) — the production path fed from the
        lineage histogram — must produce the same rows as the inline
        detection pass."""
        from georeader_spark.queries import skew_join_agg

        a = sorted(map(tuple, skew_join_agg(spark, sf_dir, salted=True).collect()))
        b = sorted(map(tuple, skew_join_agg(
            spark, sf_dir, salted=True, hot_keys=[0]).collect()))
        c = sorted(map(tuple, skew_join_agg(spark, sf_dir, salted=False).collect()))
        assert a == b == c

    def test_outer_joins_rejected(self, spark):
        """Dim replication across salts would surface unmatched hot dim
        rows once per salt under right/full outer (ADVICE r3) — raise."""
        from georeader_spark.plans.lineage import salted_join

        df = spark.range(10).select(F.col("id").alias("cell"), F.col("id").alias("fact_id"))
        dim = spark.range(10).select(F.col("id").alias("cell"))
        for how in ("right", "full", "left_anti"):
            with pytest.raises(ValueError, match="inner"):
                salted_join(df, dim, "cell", hot_threshold=1, how=how)

    def test_adaptive_salt_degree_and_cold_fastpath(self, spark, sf_dir):
        """n_salts=None adapts to parallelism/hot-key count; with no
        hot key at all the join degenerates to the plain equi-join
        (no salt column in the output)."""
        from georeader_spark.plans.lineage import salted_join
        from georeader_spark.queries import _skew_fixture

        facts, dim = _skew_fixture(spark, sf_dir, amplify=1)
        # threshold above every count -> no hot keys -> plain join
        total = facts.count()
        out = salted_join(facts, dim, "cell", hot_threshold=total + 1)
        assert "salt" not in out.columns
        assert out.count() == total
        # adaptive degree: one hot key -> n_salts == defaultParallelism,
        # same rows as the unsalted join
        exact = sorted(map(tuple, facts.join(dim, "cell").drop("salt").collect()))
        got = sorted(map(tuple, salted_join(
            facts, dim, "cell", hot_threshold=2000, id_col="fact_id"
        ).drop("salt").collect()))
        assert got == exact


class TestRound5PlanShapes:
    """Plan pins for the round-5 operators' docstring scale claims."""

    def test_paragraph_dedup_winner_exchange_carries_no_text(self, spark):
        """The winner-election shuffle moves (id, seg, 16-byte md5) —
        never paragraph text (dedup.paragraph_dedup_keep_first)."""
        from georeader_spark.operators.dedup import paragraph_dedup_keep_first

        docs = spark.createDataFrame(
            [(1, "a b\n\nc d"), (2, "c d\n\ne f")],
            "doc_id long, text string",
        )
        out = paragraph_dedup_keep_first(docs)
        formatted = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        # every Exchange partitioned on the _ph winner key (the one
        # provably-global shuffle) must not carry _para in its input
        ex_sections = [
            s for s in formatted.split("\n\n")
            if "Exchange" in s and "hashpartitioning(_ph" in s
        ]
        assert ex_sections, "winner-election exchange not found"
        for s in ex_sections:
            assert "_para" not in s, s

    def test_hash_embed_partial_aggregates_before_exchange(self, spark, sf_dir):
        """The (doc, bucket) count reduces map-side: after the partial
        aggregate at most nnz<=dim rows per doc reach the exchange."""
        from georeader_spark.operators.embed import hash_embed

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = _plan(hash_embed(docs, dim=16))
        first_ex = plan.find("Exchange hashpartitioning")
        assert first_ex > 0
        head = plan[first_ex:]
        # below the first exchange (printed after it) sits the partial
        # HashAggregate over (doc_id, bucket)
        assert "partial_sum" in head or "partial" in head

    def test_redact_pii_is_scan_side(self, spark, sf_dir):
        """PII redaction is pure column exprs: zero exchanges."""
        from georeader_spark.operators.cleaning import redact_pii_cols

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = _plan(docs.withColumns(redact_pii_cols(F.col("text"))))
        assert "Exchange" not in plan

    def test_semantic_dedup_pairs_blocked_by_cluster(self, spark):
        """The pair join is an equi-join on cluster — never a cartesian
        (similarity.semantic_dedup)."""
        from georeader_spark.operators.similarity import semantic_dedup

        vecs = spark.createDataFrame(
            [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)])
             for i in range(30)],
            "vec_id long, embedding array<double>",
        )
        cents = [[1, 0, -1, 2, 0, 1, -2, 0], [0, 2, 1, -1, 1, 0, 0, -2]]
        plan = _plan(semantic_dedup(vecs, cents))
        assert "CartesianProduct" not in plan
        assert "cluster" in plan


class TestArrowEvalPythonCount:
    """The LSH bucket and IVF list-assignment UDFs are marked
    asNondeterministic so that Catalyst cannot clone the call into an
    inferred isnotnull filter; without the flag a side carries two
    chained ArrowEvalPython nodes running the same UDF. These pins catch
    a refactor or Spark upgrade that re-duplicates them: one node per
    side, two per plan."""

    @pytest.mark.parametrize("name", ["ann_lsh_topk", "ann_ivf_topk"])
    def test_one_arrow_eval_python_per_side(self, spark, sf_dir, name):
        from georeader_spark.queries import REGISTRY

        df = REGISTRY[name][0](spark, sf_dir)
        assert _plan_node_names(df).count("ArrowEvalPython") == 2


class TestNoPythonInPagesPlans:
    """Stage ① of the flagship and of both streaming pipelines is the
    JVM regexp chain (pipeline.extract_stage): no Python UDF may
    re-enter these plans."""

    def test_pages_pipeline_executed_plan(self, spark):
        from georeader_spark.pipeline import pages_pipeline

        names = _plan_node_names(pages_pipeline(spark, n_rows=2000))
        assert "ArrowEvalPython" not in names and "BatchEvalPython" not in names

    def test_streaming_analyzed_plans(self, spark, tmp_path):
        from georeader_spark.sources.pages import pages
        from georeader_spark.streaming.cell_counts import (
            streaming_cell_counts,
            streaming_pages_pipeline,
        )

        src_dir = str(tmp_path / "pages")
        pages(spark, 200).write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema
        for build in (streaming_cell_counts, streaming_pages_pipeline):
            classes = _analyzed_expr_classes(build(spark, src_dir, schema))
            assert "PythonUDF" not in classes, build.__name__


class TestStreamingLshDedup:
    """Streaming MinHash-LSH near-dup filter (streaming/lsh_dedup.py)
    vs a batch reference applying the identical bucket/first rule."""

    @staticmethod
    def _corpus(spark):
        # 120 docs over a 40-word vocab: ids >= 1000 are exact copies
        # of id-1000 (J=1, must always flag); 60..119 share long
        # prefixes (near-dups, flagged when any band collides)
        base = spark.range(0, 120).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("tok"),
                ((F.col("id") % 60) % 7).cast("string"),
                F.lit(" "),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(25)),
                        lambda i: F.concat(
                            F.lit("w"),
                            F.pmod(
                                (F.col("id") % 60) * 3 + i * 7, F.lit(40)
                            ).cast("string"),
                        ),
                    ),
                    " ",
                ),
            ).alias("text"),
        )
        copies = base.where(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "text"
        )
        return base.unionByName(copies)

    def test_single_drain_matches_batch_rule(self, spark, tmp_path):
        from georeader_spark.operators.dedup import _minhash_banded
        from georeader_spark.streaming.cell_counts import run_available_now
        from georeader_spark.streaming.lsh_dedup import (
            lsh_verdicts_per_doc,
            streaming_lsh_verdicts,
        )

        src_dir = str(tmp_path / "docs")
        self._corpus(spark).write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema

        stream = streaming_lsh_verdicts(
            spark.readStream.schema(schema).parquet(src_dir)
        )
        out_dir = str(tmp_path / "out")
        run_available_now(stream, out_dir, str(tmp_path / "ckpt"))
        got = {
            r["doc_id"]: (r["is_dup"], r["dup_of"])
            for r in lsh_verdicts_per_doc(
                spark.read.parquet(out_dir)
            ).collect()
        }

        # batch reference: same banding, bucket winner = min doc_id
        bb = _minhash_banded(
            spark.read.parquet(src_dir), "doc_id", "text", 16, 4, 3
        )
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket")
        ref = (
            bb.withColumn("first_id", F.min("doc_id").over(w))
            .groupBy("doc_id")
            .agg(
                F.max((F.col("first_id") != F.col("doc_id")).cast("int"))
                .cast("boolean")
                .alias("is_dup"),
                F.min(
                    F.when(
                        F.col("first_id") != F.col("doc_id"),
                        F.col("first_id"),
                    )
                ).alias("dup_of"),
            )
        )
        expect = {
            r["doc_id"]: (r["is_dup"], r["dup_of"]) for r in ref.collect()
        }
        assert got == expect
        # exact copies (J=1) always flag; the claimant is an original
        # (possibly an even-earlier near-dup of the copy's source)
        for i in range(20):
            is_dup, dup_of = got[1000 + i]
            assert is_dup and dup_of is not None and dup_of < 120
        assert len(got) == 140

    def test_cross_batch_state_flags_late_near_dups(self, spark, tmp_path):
        """Buckets claimed in drain 1 persist: re-sent bodies in drain
        2 flag as dups of the ORIGINAL claimant, not of each other."""
        from georeader_spark.streaming.cell_counts import run_available_now
        from georeader_spark.streaming.lsh_dedup import (
            lsh_verdicts_per_doc,
            streaming_lsh_verdicts,
        )

        src_dir = str(tmp_path / "docs")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        base = self._corpus(spark).where(F.col("doc_id") < 120)
        base.write.parquet(src_dir)
        schema = spark.read.parquet(src_dir).schema

        def drain():
            stream = streaming_lsh_verdicts(
                spark.readStream.schema(schema).parquet(src_dir)
            )
            run_available_now(stream, out_dir, ckpt)

        drain()
        # late arrivals: exact copies of docs 0..19 under ids 5000+
        base.where(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 5000).alias("doc_id"), "text"
        ).write.mode("append").parquet(src_dir)
        drain()
        got = {
            r["doc_id"]: (r["is_dup"], r["dup_of"])
            for r in lsh_verdicts_per_doc(
                spark.read.parquet(out_dir)
            ).collect()
        }
        for i in range(20):
            is_dup, dup_of = got[5000 + i]
            assert is_dup and dup_of is not None and dup_of < 120


class TestKnnJoinJobCount:
    """knn_join sizes its ring once, from one density aggregate, so a
    warm call starts the same fixed number of Spark jobs on dense and on
    sparse points: the job count must not grow with the number of
    queries the first candidates leave unresolved. AQE is off so that
    no re-planning job is counted. The jobs are the density aggregate,
    the top-k checkpoint, the resolved count and their broadcasts; the
    bound is one above the five this session starts today."""

    MAX_JOBS = 6

    @staticmethod
    def _jobs(spark, group, build):
        sc = spark.sparkContext
        build()  # cold call: JIT and codegen
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def test_dense_and_sparse_start_equal_jobs(self, spark):
        import numpy as np

        from georeader_spark.operators.knn import knn_join

        def build(n_pts, k):
            # the raster_griddata_nearest shape: a 40 x 40 query grid
            # over a 40 x 25 extent in 4 x 2.5 cells
            rng = np.random.default_rng(n_pts)
            xy = rng.uniform((0.0, 0.0), (40.0, 25.0), (n_pts, 2))
            pts = spark.createDataFrame(
                [(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
                "point_id long, x double, y double",
            )
            qs = spark.range(1600).select(
                F.col("id").alias("q_id"),
                ((F.col("id") % 40) + 0.5).alias("qx"),
                ((F.floor(F.col("id") / 40) + 0.5) * 0.625).alias("qy"),
            )
            return lambda: knn_join(pts, qs, k=k, cell_w=4.0, cell_h=2.5)

        key = "spark.sql.adaptive.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            dense = self._jobs(spark, "knn-jobs-dense", build(2000, 4))
            sparse = self._jobs(spark, "knn-jobs-sparse", build(20, 1))
        finally:
            spark.conf.set(key, prev)
        assert dense == sparse <= self.MAX_JOBS, (dense, sparse)


def _lazy_plan_fns():
    from georeader_spark import queries as Q

    return sorted(
        name for name, fn in vars(Q).items()
        if callable(fn) and hasattr(fn, "__wrapped__")
    )


class TestLazyPlanHandles:
    """Handles reused per session (``_lazy_plan`` functions, ``_points``,
    ``_pq``) must be pure logical plans: a shuffle, a cached relation or
    a checkpointed RDD in them would mean the reuse caches work or data.
    Node names are matched exactly: every parquet scan prints
    ``InMemoryFileIndex``, which is no cached relation."""

    FORBIDDEN = {"Exchange", "InMemoryRelation", "InMemoryTableScan",
                 "Scan ExistingRDD"}

    def test_lazy_plan_fns_found(self):
        assert {"q_transform_crs", "q_transform_crs_families"} <= set(
            _lazy_plan_fns()
        )

    @pytest.mark.parametrize(
        "name", _lazy_plan_fns() + ["_points", "_pq"]
    )
    def test_handle_is_a_pure_plan(self, spark, sf_dir, name):
        from georeader_spark import queries as Q

        if name == "_pq":
            df = Q._pq(spark, f"{sf_dir}/events.parquet")
        else:
            df = getattr(Q, name)(spark, sf_dir)
        names = _plan_node_names(df)
        assert not self.FORBIDDEN & set(names), names
