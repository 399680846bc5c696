"""End-to-end Spark pipeline tests: parity vs the single-node oracle,
per-row invariant, resumability, linking, canonicalization."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from coies_spark.core.metrics import triple_prf
from coies_spark.core.oneshot import emissions_to_triples, oracle_extract_doc
from coies_spark.data import synth
from coies_spark.pipeline.canonicalize import canonicalize
from coies_spark.pipeline.checkpoint import StageRunner
from coies_spark.pipeline.extract import assemble_docs, extract_mentions
from coies_spark.pipeline.linking import build_dictionary, link_mentions
from coies_spark.pipeline.triples import conv_triples, run_pipeline

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def frames(corpus):
    return (
        synth.transcripts_frame(corpus.all_docs, use_raw=True),
        synth.transcripts_frame(corpus.all_docs, use_raw=False),
    )


@pytest.fixture(scope="module")
def spark_transcripts(spark, frames):
    raw_pdf, tagged_pdf = frames
    raw = spark.createDataFrame(raw_pdf)
    tagged = spark.createDataFrame(tagged_pdf)
    return raw, tagged


def oracle_triples(corpus, artifacts):
    out = []
    for doc in corpus.all_docs:
        out += emissions_to_triples(
            doc.conv_id,
            oracle_extract_doc(doc.raw_text, doc.tagged_text, artifacts),
        )
    return sorted(set(out))


class TestAssembly:
    def test_turn_order_and_text_preserved(self, spark, spark_transcripts, corpus):
        raw, _ = spark_transcripts
        docs = assemble_docs(raw).toPandas().set_index("conv_id")
        for doc in corpus.all_docs[:5]:
            assert docs.loc[doc.conv_id, "raw_text"] == doc.raw_text

    def test_shuffled_input_still_ordered(self, spark, frames):
        raw_pdf, _ = frames
        shuffled = spark.createDataFrame(
            raw_pdf.sample(frac=1.0, random_state=0)
        )
        a = assemble_docs(shuffled).orderBy("conv_id").toPandas()
        b = assemble_docs(spark.createDataFrame(raw_pdf)).orderBy(
            "conv_id"
        ).toPandas()
        pd.testing.assert_frame_equal(a, b)

    def test_per_row_invariant(self, spark, spark_transcripts, frames):
        # the transcripts table is never mutated: re-reading rows after
        # assembly yields byte-equal text per (conv_id, turn_idx)
        raw, _ = spark_transcripts
        raw_pdf, _ = frames
        back = (
            raw.select("conv_id", "turn_idx", "text")
            .orderBy("conv_id", "turn_idx")
            .toPandas()
        )
        want = raw_pdf[["conv_id", "turn_idx", "text"]].sort_values(
            ["conv_id", "turn_idx"]
        ).reset_index(drop=True)
        back["turn_idx"] = back["turn_idx"].astype("int32")
        pd.testing.assert_frame_equal(back, want)


class TestExtractionParity:
    def test_spark_matches_oracle(self, spark, spark_transcripts, corpus, artifacts):
        raw, tagged = spark_transcripts
        got = extract_mentions(raw, artifacts, tagged_transcripts=tagged)
        got_triples = sorted(
            {(r.conv_id, r.pred, r.obj) for r in got.collect()}
        )
        want = oracle_triples(corpus, artifacts)
        m = triple_prf(got_triples, want)
        assert m["precision"] >= 0.95 and m["recall"] >= 0.95, m

    def test_conv_triples_schema(self, spark, spark_transcripts, artifacts):
        raw, tagged = spark_transcripts
        t = conv_triples(extract_mentions(raw, artifacts, tagged))
        assert [f.name for f in t.schema.fields] == [
            "subj", "pred", "obj", "score",
        ]


class TestLinking:
    def test_broadcast_and_salted_agree(self, spark, spark_transcripts, artifacts):
        raw, tagged = spark_transcripts
        mentions = extract_mentions(raw, artifacts, tagged).cache()
        dictionary = build_dictionary(
            spark,
            [("acme holdings", "E1"), ("Acme Holdings", "E1b"),
             ("revenues", "E2")],
        )
        a = link_mentions(mentions, dictionary, "broadcast")
        b = link_mentions(mentions, dictionary, "salted")
        cols = ["conv_id", "pred", "obj", "entity_id"]
        assert sorted(map(tuple, a.select(cols).collect())) == sorted(
            map(tuple, b.select(cols).collect())
        )

    def test_unlinked_get_surface_ids(self, spark, spark_transcripts, artifacts):
        raw, tagged = spark_transcripts
        mentions = extract_mentions(raw, artifacts, tagged)
        linked = link_mentions(
            mentions, build_dictionary(spark, [("acme holdings", "E1")])
        )
        rows = linked.collect()
        assert all(r.entity_id for r in rows)
        assert any(r.entity_id == "E1" for r in rows)
        assert any(r.entity_id.startswith("surface:") for r in rows)


class TestCanonicalize:
    def test_shared_surface_merges_ids(self, spark):
        linked = spark.createDataFrame(
            [
                ("c1", "comp", "acme holdings", 1.0, "E1"),
                ("c2", "comp", "acme holdings", 1.0, "E9"),
                ("c3", "comp", "zenith industrial", 1.0, "E5"),
            ],
            "conv_id string, pred string, obj string, score double, "
            "entity_id string",
        )
        out = canonicalize(linked).collect()
        by_id = {r.entity_id: r.canonical_id for r in out}
        assert by_id["E1"] == by_id["E9"] == "E1"
        assert by_id["E5"] == "E5"


class TestResumability:
    def test_second_run_skips_and_matches(self, spark, spark_transcripts,
                                          artifacts, tmp_path, corpus):
        raw, tagged = spark_transcripts
        work = str(tmp_path / "run")
        r1 = run_pipeline(spark, raw, artifacts, work,
                          tagged_transcripts=tagged)
        first = sorted(
            map(tuple, r1.results["s5_triples"].df.select(
                "subj", "pred", "obj").collect())
        )
        assert not any(r.skipped for r in r1.results.values())

        r2 = run_pipeline(spark, raw, artifacts, work,
                          tagged_transcripts=tagged)
        assert all(r.skipped for r in r2.results.values())
        second = sorted(
            map(tuple, r2.results["s5_triples"].df.select(
                "subj", "pred", "obj").collect())
        )
        assert first == second
        # a resumed stage reads with the schema the fresh run committed
        for name, res in r1.results.items():
            assert r2.results[name].df.schema == res.df.schema, name
        # parity of the checkpointed output vs oracle
        want = oracle_triples(corpus, artifacts)
        m = triple_prf(second, want)
        assert m["f1"] >= 0.95, m

    def test_partial_resume_after_lost_stage(self, spark, spark_transcripts,
                                             artifacts, tmp_path):
        import shutil

        raw, tagged = spark_transcripts
        work = str(tmp_path / "run2")
        r1 = run_pipeline(spark, raw, artifacts, work,
                          tagged_transcripts=tagged)
        n1 = r1.results["s5_triples"].manifest["rows"]
        shutil.rmtree(f"{work}/s5_triples")
        r2 = run_pipeline(spark, raw, artifacts, work,
                          tagged_transcripts=tagged)
        assert r2.results["s1_docs"].skipped
        assert r2.results["s2_mentions"].skipped
        assert not r2.results["s5_triples"].skipped
        assert r2.results["s5_triples"].manifest["rows"] == n1

    def test_config_change_invalidates(self, spark, spark_transcripts,
                                       artifacts, tmp_path):
        from dataclasses import replace

        raw, tagged = spark_transcripts
        work = str(tmp_path / "run3")
        run_pipeline(spark, raw, artifacts, work, tagged_transcripts=tagged)
        art2 = type(artifacts)(
            config=replace(artifacts.config, topn=3),
            seeds=artifacts.seeds,
            phrases=artifacts.phrases,
            emb=artifacts.emb,
        )
        r2 = run_pipeline(spark, raw, art2, work, tagged_transcripts=tagged)
        assert not any(r.skipped for r in r2.results.values())

    def test_lineage_recorded(self, spark, spark_transcripts, artifacts,
                              tmp_path):
        raw, tagged = spark_transcripts
        work = str(tmp_path / "run4")
        r = run_pipeline(spark, raw, artifacts, work,
                         tagged_transcripts=tagged)
        man = r.results["s5_triples"].manifest
        assert man["partition_rows"], "per-pred lineage counts expected"
        assert sum(man["partition_rows"].values()) == man["rows"]
        metrics = r.metrics().collect()
        assert {m.stage for m in metrics} >= {"s1_docs", "s2_mentions",
                                              "s5_triples"}

        # footer-read counts equal a groupBy over the snapshot, for
        # partition values Spark writes as the null default or escapes
        cols = ["pred", "n"]
        odd = spark.createDataFrame(
            [("a", "x y", 1), ("b", None, 1), ("c", "p/q=r s", 2),
             ("d", "p/q=r s", 2), ("e", "", 3), ("f", "x y", 3)],
            "k string, pred string, n int",
        )
        fresh = StageRunner(spark, f"{work}/odd", {})
        snap = fresh.stage("odd", lambda: odd, partition_by=cols)
        man = fresh.results["odd"].manifest
        want = {
            "/".join(str(row[c]) for c in cols): row["count"]
            for row in snap.groupBy(*cols).count().collect()
        }
        assert man["partition_rows"] == want
        assert man["rows"] == snap.count() == 6
        resumed = StageRunner(spark, f"{work}/odd", {})
        again = resumed.stage("odd", lambda: odd, partition_by=cols)
        assert resumed.results["odd"].skipped
        assert again.schema == snap.schema
        assert sorted(map(tuple, again.collect()), key=str) == sorted(
            map(tuple, snap.collect()), key=str)


def _tags_stage(spark, base, run_fp, tags):
    """One tiny StageRunner stage ``s`` under ``base``; returns its
    StageResult and its sorted ``tag`` column."""
    runner = StageRunner(spark, base, {"v": run_fp})
    df = runner.stage(
        "s",
        lambda: spark.createDataFrame(
            [(t, f"p{i % 2}") for i, t in enumerate(tags)],
            "tag string, pred string",
        ),
        partition_by=["pred"],
    )
    return runner.results["s"], sorted(r.tag for r in df.collect())


class TestCommit:
    def test_zero_row_stages_run_and_resume(self, spark, tmp_path):
        base = str(tmp_path / "empty")

        def run():
            runner = StageRunner(spark, base, {})
            for name, part in (("part", ["pred"]), ("flat", None)):
                df = runner.stage(
                    name,
                    lambda: spark.createDataFrame(
                        [], "tag string, pred string"),
                    partition_by=part,
                )
                assert df.count() == 0, name
                assert df.columns == ["tag", "pred"], name
            return runner.results

        first, second = run(), run()
        for name in ("part", "flat"):
            assert not first[name].skipped and second[name].skipped
            assert first[name].manifest["rows"] == 0
            assert first[name].manifest["partition_rows"] == {}
            assert second[name].df.schema == first[name].df.schema

    def test_corrupt_manifest_is_cache_miss(self, spark, tmp_path):
        import os

        base = str(tmp_path / "corrupt")
        res, tags = _tags_stage(spark, base, 1, ["a", "b", "c"])
        path = os.path.join(base, "s", "_MANIFEST.json")
        with open(path) as f:
            text = f.read()
        for bad in (text[: len(text) // 2], "", "[1, 2]"):
            with open(path, "w") as f:
                f.write(bad)
            again, got = _tags_stage(spark, base, 1, ["a", "b", "c"])
            assert not again.skipped and got == tags
            assert again.manifest["rows"] == 3
        assert _tags_stage(spark, base, 1, ["a", "b", "c"])[0].skipped

    def test_kill_between_data_and_manifest(self, spark, tmp_path,
                                            monkeypatch):
        """A write that dies keeps the OLD data and manifest, which
        still resume; a kill after the new data is swapped in but
        before its manifest must not leave the OLD manifest vouching
        for the NEW data: the next run with the old fingerprint
        rebuilds."""
        import os

        from pyspark.sql.readwriter import DataFrameWriter

        from coies_spark.pipeline import checkpoint

        class Killed(Exception):
            pass

        base = str(tmp_path / "kill")
        manifest = os.path.join(base, "s", "_MANIFEST.json")
        _tags_stage(spark, base, 1, ["old", "old"])
        real_parquet = DataFrameWriter.parquet

        def write_then_die(writer, *args, **kwargs):
            real_parquet(writer, *args, **kwargs)
            raise Killed

        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet", write_then_die)
            with pytest.raises(Killed):
                _tags_stage(spark, base, 2, ["new", "new", "new"])
        res, tags = _tags_stage(spark, base, 1, ["old", "old"])
        assert res.skipped and tags == ["old", "old"]

        real_replace = os.replace

        def swap_then_die(src, dst):
            # the data swap goes through; the manifest's replace dies
            if dst == manifest:
                raise Killed
            real_replace(src, dst)

        with monkeypatch.context() as m:
            m.setattr(checkpoint.os, "replace", swap_then_die)
            with pytest.raises(Killed):
                _tags_stage(spark, base, 2, ["new", "new", "new"])
        assert not os.path.exists(manifest)
        res, tags = _tags_stage(spark, base, 1, ["old", "old"])
        assert not res.skipped and tags == ["old", "old"]
        assert res.manifest["rows"] == 2

    def test_new_transcripts_rebuild_every_stage(self, spark, frames,
                                                 artifacts, tmp_path):
        """An old work_dir run over a DIFFERENT transcripts table
        rebuilds every stage instead of reusing the old triples."""
        raw_pdf, _ = frames
        convs = sorted(raw_pdf.conv_id.unique())
        paths = {}
        for side, keep in (("a", convs[::2]), ("b", convs[1::2])):
            paths[side] = str(tmp_path / f"raw_{side}")
            spark.createDataFrame(
                raw_pdf[raw_pdf.conv_id.isin(keep)]
            ).write.parquet(paths[side])
        work = str(tmp_path / "work")
        run_pipeline(spark, spark.read.parquet(paths["a"]), artifacts, work)
        rb = run_pipeline(spark, spark.read.parquet(paths["b"]), artifacts,
                          work)
        assert not any(r.skipped for r in rb.results.values())
        subjs = {r.subj for r in rb.results["s5_triples"].df.collect()}
        assert subjs and subjs <= set(convs[1::2])
        # the same files again: every stage resumes
        rb2 = run_pipeline(spark, spark.read.parquet(paths["b"]), artifacts,
                           work)
        assert all(r.skipped for r in rb2.results.values())

def test_assemble_docs_caps_oversized_conversations(spark):
    from coies_spark.pipeline.extract import assemble_docs

    rows = [("big", i, "u", f"turn {i}", None, None) for i in range(30)]
    rows += [("ok", 0, "u", "hello", None, None)]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    got = {r.conv_id: r.raw_text for r in assemble_docs(df, max_turns=10).collect()}
    assert got["ok"] == "hello"
    assert got["big"] == "\n".join(f"turn {i}" for i in range(10))
    # default cap leaves normal conversations untouched
    full = {r.conv_id: r.raw_text for r in assemble_docs(df).collect()}
    assert full["big"] == "\n".join(f"turn {i}" for i in range(30))


def test_fused_extraction_matches_staged(spark, spark_transcripts, artifacts):
    """extract_mentions_fused must be emission-identical to the staged
    assemble->detect path, including when Arrow batch boundaries split
    a conversation (forced via a tiny maxRecordsPerBatch) and across
    both parity and production (raw-only) modes."""
    from coies_spark.pipeline.extract import extract_mentions_fused

    raw, tagged = spark_transcripts
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(batch_conf)
    spark.conf.set(batch_conf, "7")  # force mid-conversation splits
    try:
        for tg in (tagged, None):
            want = sorted(
                map(tuple, extract_mentions(raw, artifacts, tg).collect())
            )
            got = sorted(
                map(
                    tuple,
                    extract_mentions_fused(raw, artifacts, tg).collect(),
                )
            )
            assert got == want
        assert len(want) > 0
    finally:
        spark.conf.set(batch_conf, old)


def test_fused_extraction_edge_rows(spark, artifacts):
    """Row semantics parity on the degenerate shapes: tagged-only
    conversation (emits nothing), raw-only (context falls back to
    raw), empty-text turns."""
    from coies_spark.pipeline.extract import extract_mentions_fused

    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    raw = spark.createDataFrame(
        [
            ("both", 0, "u", "hello there", None, None),
            ("raw_only", 0, "u", "solo words", None, None),
            ("empty_text", 0, "u", "", None, None),
            ("null_text", 0, "u", None, None, None),
            ("null_text", 1, "u", "after a null", None, None),
            # duplicate turn_idx: order must follow the staged
            # (turn_idx, text) tiebreak
            ("dup_idx", 0, "u", "zebra words", None, None),
            ("dup_idx", 0, "a", "apple words", None, None),
            ("null_tagged", 0, "u", "real raw words", None, None),
        ],
        schema,
    )
    tagged = spark.createDataFrame(
        [
            ("both", 0, "u", "hello there", None, None),
            ("tagged_only", 0, "u", "ghost", None, None),
            ("empty_text", 0, "u", "", None, None),
            # twin present but all its texts NULL: context must be ""
            # (tagged rows exist), NOT a fallback to raw
            ("null_tagged", 0, "u", None, None, None),
        ],
        schema,
    )
    want = sorted(
        map(tuple, extract_mentions(raw, artifacts, tagged).collect())
    )
    got = sorted(
        map(
            tuple,
            extract_mentions_fused(raw, artifacts, tagged).collect(),
        )
    )
    assert got == want
    # the assembled-text parity behind it: fused must see the same
    # concatenations assemble_docs produces for these shapes
    docs = {
        r.conv_id: (r.raw_text, r.context_text)
        for r in assemble_docs(raw, tagged).collect()
    }
    assert docs["null_text"][0] == "after a null"
    assert docs["dup_idx"][0] == "apple words\nzebra words"
    assert docs["null_tagged"] == ("real raw words", "")


def test_assemble_union_join_property(spark):
    """Randomized equivalence of the union and join assembly
    strategies over arbitrary conv/turn structures (duplicate turn
    indices, empty texts, one-sided conversations)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    row_st = st.tuples(
        st.sampled_from(["c0", "c1", "c2", "c3"]),
        st.integers(min_value=0, max_value=4),
        st.sampled_from(["", "a", "b b", "c words here"]),
    )
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )

    def frame(rows):
        data = [(c, i, "u", t, None, None) for c, i, t in rows]
        return spark.createDataFrame(data, schema)

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        raw_rows=st.lists(row_st, min_size=1, max_size=12),
        tagged_rows=st.lists(row_st, min_size=0, max_size=12),
    )
    def check(raw_rows, tagged_rows):
        raw, tagged = frame(raw_rows), frame(tagged_rows)
        u = sorted(map(tuple, assemble_docs(raw, tagged).collect()))
        j = sorted(
            map(tuple, assemble_docs(raw, tagged, strategy="join").collect())
        )
        assert u == j

    check()


def test_kg_digest_constants(spark):
    """The committed sf0.01 triple-set digests (the driver oracle for
    the two Arrow-kernel queries) must reproduce — any extraction-
    semantics drift trips this before the driver does."""
    import os

    import __spark_entry__ as e

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        pytest.skip("sf0.01 testdata not available")
    for name, fn in (
        ("kg_extract_digest", e._q_kg_extract_digest),
        ("kg_linked_digest", e._q_kg_linked_digest),
    ):
        r = fn(spark, sf_dir).collect()[0]
        assert (r.digest_sum, r.n_triples) == e.KG_DIGEST_SF001[name], name


class TestCurationRun:
    def test_checkpoint_lineage_and_resume(self, spark, tmp_path):
        from coies_spark.pipeline.curate_run import run_curation

        docs_path = "/root/testdata/sf0.001/documents.parquet"
        out = str(tmp_path / "curation")
        curated, report, runner = run_curation(
            spark, docs_path, out, fractions={"en": 0.5}
        )
        n1 = curated.count()
        assert n1 > 0 and not runner.results["curated"].skipped
        # per-language lineage recorded in the manifest
        lineage = runner.results["curated"].manifest["partition_rows"]
        assert lineage and sum(lineage.values()) == n1
        langs = {r.lang for r in report.collect()}
        assert set(lineage) == langs

        # resume: same config -> both stages skip, identical rows
        c2, r2, runner2 = run_curation(
            spark, docs_path, out, fractions={"en": 0.5}
        )
        assert runner2.results["curated"].skipped
        assert runner2.results["report"].skipped
        assert c2.count() == n1

        # config change -> fingerprint mismatch -> recompute
        c3, _, runner3 = run_curation(
            spark, docs_path, out, min_quality=0.64, fractions={"en": 0.5}
        )
        assert not runner3.results["curated"].skipped
        assert c3.count() < n1  # tighter floor keeps fewer docs


class TestBeliefStages:
    def test_belief_stages_run_and_resume(self, spark, spark_transcripts,
                                          artifacts, tmp_path):
        from pyspark.sql import functions as F

        from coies_spark.data import synth

        raw, tagged = spark_transcripts
        dictionary = build_dictionary(
            spark,
            [(m, f"E{c}") for c, m in enumerate(synth.COMP_POOL)]
            + [(m, f"I{c}") for c, m in enumerate(synth.ITEM_POOL)],
        )
        work = str(tmp_path / "beliefs")
        r1 = run_pipeline(spark, raw, artifacts, work,
                          dictionary=dictionary,
                          tagged_transcripts=tagged, with_beliefs=True)
        for st in ("s6_evidence", "s7_beliefs", "s8_temporal",
                   "s9_degrees"):
            assert st in r1.results and not r1.results[st].skipped

        beliefs = r1.results["s7_beliefs"].df
        rows = beliefs.collect()
        assert rows and all(
            r.confidence is not None and 0.0 < r.confidence <= 1.0
            for r in rows
        )
        # n_evidence sums to the evidence row count
        n_ev = r1.results["s6_evidence"].df.count()
        assert sum(r.n_evidence for r in rows) == n_ev

        temporal = r1.results["s8_temporal"].df
        # SCD-2 invariant: exactly one open (current) version per
        # (subj, pred), and versions are contiguous from 1
        per_key = (
            temporal.groupBy("subj", "pred")
            .agg(
                F.sum(F.col("is_current").cast("int")).alias("n_open"),
                F.max("version").alias("vmax"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        assert per_key and all(
            r.n_open == 1 and r.vmax == r.n for r in per_key
        )

        degrees = {r.entity: r for r in
                   r1.results["s9_degrees"].df.collect()}
        # every evidence subject appears with out-degree > 0
        subjs = {r.subj for r in
                 r1.results["s6_evidence"].df.select("subj").collect()}
        assert all(degrees[s].out_degree > 0 for s in subjs)

        # second run resumes every stage from its snapshot
        r2 = run_pipeline(spark, raw, artifacts, work,
                          dictionary=dictionary,
                          tagged_transcripts=tagged, with_beliefs=True)
        assert all(r.skipped for r in r2.results.values())
        assert sorted(map(tuple, r2.results["s7_beliefs"].df.collect())) \
            == sorted(map(tuple, beliefs.collect()))


class TestBeliefUpsert:
    def test_upsert_matches_full_recompute(self, spark, spark_transcripts,
                                           artifacts, tmp_path,
                                           monkeypatch):
        from pyspark.sql import functions as F

        from coies_spark.pipeline.triples import upsert_beliefs

        raw, _tagged = spark_transcripts
        convs = sorted(
            r.conv_id for r in raw.select("conv_id").distinct().collect()
        )
        half = convs[: len(convs) // 2]
        b1 = raw.where(F.col("conv_id").isin(half))
        b2 = raw.where(~F.col("conv_id").isin(half))

        w1 = str(tmp_path / "w1")
        run_pipeline(spark, b1, artifacts, w1, with_beliefs=True)
        # batch 2's evidence from its own (throwaway) run
        r2 = run_pipeline(spark, b2, artifacts, str(tmp_path / "w2"),
                          with_beliefs=True)
        ev2 = r2.results["s6_evidence"].df
        up_beliefs, up_temporal = upsert_beliefs(spark, w1, ev2)

        rf = run_pipeline(spark, raw, artifacts, str(tmp_path / "wf"),
                          with_beliefs=True)

        def rows(df, cols):
            return sorted(map(tuple, df.select(*cols).collect()))

        bcols = ["subj", "pred", "obj", "n_evidence", "first_ts",
                 "last_ts", "confidence"]
        assert rows(up_beliefs, bcols) == rows(
            rf.results["s7_beliefs"].df, bcols)
        tcols = ["subj", "pred", "obj", "version", "valid_from",
                 "valid_to", "is_current"]
        assert rows(up_temporal, tcols) == rows(
            rf.results["s8_temporal"].df, tcols)
        # the upsert REWRITES the snapshots in place: re-reading the
        # store sees the merged view (the resume contract)
        again = spark.read.parquet(f"{w1}/s7_beliefs/data")
        assert rows(again, bcols) == rows(up_beliefs, bcols)
        # no stale tmp dir; manifest row counts describe the
        # POST-upsert store (metrics()/lineage stay truthful)
        import json
        import os

        assert not os.path.exists(f"{w1}/s7_beliefs/data.tmp")
        assert not os.path.exists(f"{w1}/s8_temporal/data.tmp")
        with open(f"{w1}/s7_beliefs/_MANIFEST.json") as f:
            man = json.load(f)
        assert man["rows"] == up_beliefs.count()
        assert "upserted_at" in man
        assert sum(man["partition_rows"].values()) == man["rows"]
        # fresh-run and upserted snapshots have the SAME schema (the
        # merge's n_windows bookkeeping column is projected away)
        assert again.columns == rf.results["s7_beliefs"].df.columns

        # an upsert whose write fails keeps the folded store and its
        # manifests: the next resume still sees batch 2
        from pyspark.sql.readwriter import DataFrameWriter

        def fail(*args, **kwargs):
            raise OSError("disk full")

        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet", fail)
            with pytest.raises(OSError):
                upsert_beliefs(spark, w1, ev2)
        resumed = run_pipeline(spark, b1, artifacts, w1, with_beliefs=True)
        assert all(r.skipped for r in resumed.results.values())
        assert rows(resumed.results["s7_beliefs"].df, bcols) \
            == rows(up_beliefs, bcols)
        assert rows(resumed.results["s8_temporal"].df, tcols) \
            == rows(up_temporal, tcols)

    def test_upsert_exact_on_overlapping_keys(self, spark, tmp_path):
        """The drift counterexample: the same (subj, pred, obj) key
        receives evidence in BOTH the old snapshot and the new batch,
        with scores whose rounded-confidence merge lands on the wrong
        side of the 6dp boundary (0.944445) while the full recompute
        gives 0.944444 — the persisted lg_sum state must make the
        incremental path exact."""
        import os

        from coies_spark.ops.kg import temporal_triples, triple_confidence
        from coies_spark.pipeline.triples import upsert_beliefs

        schema = ("subj string, pred string, obj string, "
                  "ts long, score double")
        b1 = spark.createDataFrame(
            [("s1", "comp", "acme", 100, 0.5),
             ("s1", "comp", "acme", 110, 0.5),
             ("s1", "comp", "acme", 120, 0.5),
             ("s2", "date", "2001", 100, 0.25)], schema)
        b2 = spark.createDataFrame(
            [("s1", "comp", "acme", 200, 0.5),
             ("s1", "comp", "acme", 210, 0.111111),
             ("s3", "item", "revenue", 220, 0.9)], schema)
        w = str(tmp_path / "w")
        triple_confidence(b1, with_state=True).write.partitionBy(
            "pred").parquet(f"{w}/s7_beliefs/data")
        temporal_triples(b1).write.partitionBy("pred").parquet(
            f"{w}/s8_temporal/data")

        up_b, up_t = upsert_beliefs(spark, w, b2)

        def rows(df, cols):
            return sorted(map(tuple, df.select(*cols).collect()))

        bcols = ["subj", "pred", "obj", "n_evidence", "first_ts",
                 "last_ts", "confidence"]
        full_b = triple_confidence(b1.unionByName(b2), with_state=True)
        assert rows(up_b, bcols) == rows(full_b, bcols)
        # the overlapping key really hit the boundary case
        got = {(r.subj, r.pred, r.obj): r.confidence
               for r in up_b.collect()}
        assert got[("s1", "comp", "acme")] == 0.944444
        # upserted snapshot keeps the fresh-run schema (incl. lg_sum)
        assert sorted(up_b.columns) == sorted(full_b.columns)
        assert not os.path.exists(f"{w}/s7_beliefs/data.tmp")
        assert not os.path.exists(f"{w}/s8_temporal/data.tmp")
        tcols = ["subj", "pred", "obj", "version", "valid_from",
                 "valid_to", "is_current"]
        full_t = temporal_triples(
            b1.unionByName(b2).select("subj", "pred", "obj", "ts",
                                      "score"))
        assert rows(up_t, tcols) == rows(full_t, tcols)
        # a second overlapping upsert stays exact (state round-trips
        # through parquet at full double fidelity)
        b3 = spark.createDataFrame(
            [("s1", "comp", "acme", 300, 0.111111)], schema)
        up_b2, _ = upsert_beliefs(spark, w, b3)
        full_b2 = triple_confidence(
            b1.unionByName(b2).unionByName(b3), with_state=True)
        assert rows(up_b2, bcols) == rows(full_b2, bcols)


class TestTripleRefresh:
    def test_dynamic_partition_refresh_preserves_untouched_preds(
            self, spark, tmp_path):
        from pyspark.sql import functions as F

        from coies_spark.pipeline.triples import refresh_triple_partitions

        path = str(tmp_path / "triples")
        base = spark.createDataFrame(
            [("s1", "comp", "acme", 0.9), ("s2", "date", "2000", 0.8),
             ("s3", "item", "revenues", 0.7)],
            "subj string, pred string, obj string, score double",
        )
        base.write.partitionBy("pred").parquet(path)
        # refresh ONLY pred=comp with new rows
        new = spark.createDataFrame(
            [("s9", "comp", "zorg", 0.95)],
            "subj string, pred string, obj string, score double",
        )
        out = refresh_triple_partitions(spark, new, path)
        got = {(r.pred, r.subj, r.obj) for r in out.collect()}
        # comp replaced; date/item partitions untouched
        assert got == {("comp", "s9", "zorg"), ("date", "s2", "2000"),
                       ("item", "s3", "revenues")}
        # the session conf is restored (scoped override)
        assert spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode") != "dynamic"
        # idempotent: same batch again -> same store
        again = refresh_triple_partitions(spark, new, path)
        assert {(r.pred, r.subj, r.obj) for r in again.collect()} == got


def test_to_ntriples_escapes_and_null_drop(spark):
    from coies_spark.pipeline.triples import to_ntriples

    t = spark.createDataFrame(
        [
            ('c"1 x', "rel\\x%", 'l1\nl2\r\tq:"\\" <end>'),
            ("s", "p", None),  # unserializable -> dropped
            ("bad\nsubj", "p", "o"),  # control char in IRI -> dropped
            ("curly{brace}", "p", "o"),  # IRI-forbidden -> dropped
            ("conv-1", "mentions", "spark"),
        ],
        "subj string, pred string, obj string",
    )
    rows = {r.subj: r.line for r in to_ntriples(t).collect()}
    assert set(rows) == {'c"1 x', "conv-1"}

    # clean row: exact canonical line
    assert rows["conv-1"] == (
        "<http://example.org/kg/id/conv-1> "
        '<http://example.org/kg/rel/mentions> "spark" .'
    )

    # dirty row: replica of the spec'd escape chains (IRI percent-
    # encoding % first; literal escapes backslash first)
    def iri(s):
        for a, b in [("%", "%25"), (" ", "%20"), ('"', "%22"),
                     ("<", "%3C"), (">", "%3E"), ("\\", "%5C")]:
            s = s.replace(a, b)
        return s

    def lit(s):
        for a, b in [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                     ("\r", "\\r"), ("\t", "\\t")]:
            s = s.replace(a, b)
        return s

    dirty_subj = 'c"1 x'
    dirty_pred = "rel\\x%"
    dirty_obj = 'l1\nl2\r\tq:"\\" <end>'
    want = (
        "<http://example.org/kg/id/" + iri(dirty_subj) + "> "
        "<http://example.org/kg/rel/" + iri(dirty_pred) + '> "'
        + lit(dirty_obj) + '" .'
    )
    assert rows['c"1 x'] == want
    # a valid N-Triples line never carries a raw newline/CR/tab
    assert not any(c in rows['c"1 x'] for c in "\n\r\t")
