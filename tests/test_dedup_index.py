"""Persisted dedup index (ops/dedup_index — hash the corpus once,
dedup every future batch against it; the MinHash analogue of the r7
persisted ANN index): fresh-store probes are bit-identical to the
in-memory minhash_lsh_candidates cross pairs, incremental add equals a
one-shot rebuild, the exact fingerprint route catches short docs the
signature path can't sign, and the FULL build+probe pipeline (portable
hash) replays in a DuckDB oracle — folded-gate-strength value check."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from brahmand_spark.errors import CatalogError
from brahmand_spark.models import ModelStore
from brahmand_spark.ops.dedup import minhash_lsh_candidates
from brahmand_spark.ops.dedup_index import (
    build_dedup_index, dedup_against, dedup_index_add,
)

from .conftest import SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text")


def _corpus(spark):
    return _docs(spark).filter(F.col("doc_id") % 5 != 0)


def _near_batch(spark):
    """Perturbed copies of the held-out split: high-but-<1 Jaccard
    against their corpus near-dups, disjoint id space."""
    return _docs(spark).filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"))


class TestBuildAndProbe:
    def test_fresh_store_probe_matches_inmemory_cross_pairs(
            self, spark, tmp_path):
        """build -> fresh ModelStore over the same dir -> probe must
        equal the corpus∪batch in-memory candidate pairs restricted
        to cross pairs, bit-for-bit: permutations persist, signatures
        round-trip parquet exactly, and the banding/estimate exprs
        are shared (band_buckets / sig_agreement)."""
        corpus, batch = _corpus(spark), _near_batch(spark)
        st = ModelStore(str(tmp_path / "m"))
        params = build_dedup_index(corpus, "dix", st)
        assert params["n_docs"] == corpus.count()
        st2 = ModelStore(str(tmp_path / "m"))
        got = sorted(
            (r["new_id"], r["corpus_id"], r["est_jaccard"])
            for r in dedup_against(spark, "dix", batch, st2,
                                   threshold=0.5).collect()
            if r["match_kind"] == "near")
        mem = minhash_lsh_candidates(
            corpus.unionByName(batch)
        ).filter(F.col("est_jaccard") >= 0.5)
        want = sorted(
            (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"]),
             r["est_jaccard"])
            for r in mem.collect()
            if (r["id_a"] >= 10_000_000) != (r["id_b"] >= 10_000_000))
        assert got == want and len(got) > 0

    def test_exact_route_and_short_docs(self, spark, tmp_path):
        """Identical text matches via the fingerprint route with
        est 1.0 / kind 'exact' — including docs too short to sign
        (< n tokens, no MinHash signature), which the banded route
        can never see. Non-matching short docs yield nothing."""
        corpus = _corpus(spark).unionByName(
            spark.createDataFrame([(900_001, "hi there")],
                                  "doc_id long, text string"))
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "dix", st)
        batch = spark.createDataFrame(
            [(10_900_001, "hi there"),       # short exact dup
             (10_900_002, "bye now")],       # short non-dup
            "doc_id long, text string")
        rows = dedup_against(spark, "dix", batch, st).collect()
        assert [(r["new_id"], r["corpus_id"], r["est_jaccard"],
                 r["match_kind"]) for r in rows] == [
            (10_900_001, 900_001, 1.0, "exact")]
        # and include_exact=False drops it
        assert dedup_against(spark, "dix", batch, st,
                             include_exact=False).count() == 0

    def test_exact_excluded_from_near(self, spark, tmp_path):
        """A long identical-text pair is caught by BOTH routes —
        it must surface once, as 'exact', not again as 'near'."""
        corpus = _corpus(spark)
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "dix", st)
        batch = corpus.limit(5).select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"), "text")
        rows = dedup_against(spark, "dix", batch, st,
                             threshold=0.5).collect()
        exact = [(r["new_id"], r["corpus_id"]) for r in rows
                 if r["match_kind"] == "exact"]
        near = [(r["new_id"], r["corpus_id"]) for r in rows
                if r["match_kind"] == "near"]
        assert len(exact) == 5
        assert not set(exact) & set(near)

    def test_self_probe_and_exclude_self(self, spark, tmp_path):
        corpus = _corpus(spark)
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "dix", st)
        probe = corpus.limit(8)
        with_self = dedup_against(spark, "dix", probe, st)
        assert with_self.filter(
            (F.col("new_id") == F.col("corpus_id"))
            & (F.col("match_kind") == "exact")).count() == 8
        without = dedup_against(spark, "dix", probe, st,
                                exclude_self=True)
        assert without.filter(
            F.col("new_id") == F.col("corpus_id")).count() == 0

    def test_hot_bucket_cap_skips_near_keeps_exact(
            self, spark, tmp_path):
        corpus = _corpus(spark)
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "dix", st)
        batch = corpus.limit(3).select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"), "text")
        rows = dedup_against(spark, "dix", batch, st,
                             hot_bucket_cap=0).collect()
        assert rows and all(r["match_kind"] == "exact" for r in rows)

    @pytest.mark.parametrize("hash_fn", ["xxhash64", "portable"])
    def test_null_text_never_matches(self, spark, tmp_path, hash_fn):
        """NULL-text rows (failed extractions) must not fingerprint
        to a shared constant and cross-match as 'exact' — NULL fp
        drops in the equi-join, in BOTH hash modes (review r8:
        xxhash64(NULL) returns the seed, so every NULL-text pair
        would otherwise report est 1.0)."""
        corpus = _corpus(spark).unionByName(spark.createDataFrame(
            [(800_001, None), (800_002, None)],
            "doc_id long, text string"))
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "dix", st, hash_fn=hash_fn)
        batch = spark.createDataFrame(
            [(20_800_001, None), (20_800_002, None)],
            "doc_id long, text string")
        assert dedup_against(spark, "dix", batch, st).count() == 0

    def test_wrong_kind_rejected(self, spark, tmp_path):
        st = ModelStore(str(tmp_path / "m"))
        st.save("dix", "lsh_planes", [[0.1, 0.2]])
        with pytest.raises(CatalogError, match="dedup_index"):
            dedup_against(spark, "dix", _docs(spark).limit(1), st)

    def test_stream_batch_rejected(self, spark, tmp_path):
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(_corpus(spark), "dix", st)
        stream = spark.readStream.format("rate").load()
        with pytest.raises(ValueError, match="BATCH"):
            dedup_against(spark, "dix", stream, st)


class TestIncrementalAdd:
    def test_add_matches_one_shot_build(self, spark, tmp_path):
        """build on half the corpus + dedup_index_add the other half
        == one-shot build on the full corpus: signatures are seed-
        deterministic and the stored permutations are reused, so the
        grown index is row-identical."""
        corpus, batch = _corpus(spark), _near_batch(spark)
        half_a = corpus.filter(F.col("doc_id") % 2 == 0)
        half_b = corpus.filter(F.col("doc_id") % 2 == 1)
        st_inc = ModelStore(str(tmp_path / "inc"))
        st_full = ModelStore(str(tmp_path / "full"))
        build_dedup_index(half_a, "dix", st_inc)
        n0 = st_inc.load("dix", "dedup_index")["params"]["n_docs"]
        params = dedup_index_add(spark, "dix", half_b, st_inc)
        assert params["n_docs"] > n0
        build_dedup_index(corpus, "dix", st_full)
        a = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st_inc, threshold=0.5).collect()))
        b = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st_full, threshold=0.5).collect()))
        assert a == b and len(a) > 0


class TestRemoveAndCompact:
    """Tombstone deletion (r8 — the LSM pattern: O(batch) removes,
    probe-time anti-join, compaction folds and clears)."""

    def _setup(self, spark, tmp_path):
        corpus, batch = _corpus(spark), _near_batch(spark)
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "dix", st)
        return corpus, batch, st

    def test_removed_docs_stop_matching(self, spark, tmp_path):
        from brahmand_spark.ops.dedup_index import dedup_index_remove

        corpus, batch, st = self._setup(spark, tmp_path)
        before = dedup_against(spark, "dix", batch, st,
                               threshold=0.5).collect()
        assert before
        victims = sorted({r["corpus_id"] for r in before})[:2]
        n0 = st.load("dix", "dedup_index")["params"]["n_docs"]
        params = dedup_index_remove(spark, "dix", victims, st)
        assert params["n_docs"] == n0 - 2
        after = dedup_against(spark, "dix", batch, st,
                              threshold=0.5).collect()
        assert not {r["corpus_id"] for r in after} & set(victims)
        # every non-victim pair is unchanged
        keep = {tuple(r) for r in before
                if r["corpus_id"] not in victims}
        assert {tuple(r) for r in after} == keep

    def test_remove_is_idempotent_and_ignores_absent(
            self, spark, tmp_path):
        from brahmand_spark.ops.dedup_index import dedup_index_remove

        _, _, st = self._setup(spark, tmp_path)
        n0 = st.load("dix", "dedup_index")["params"]["n_docs"]
        dedup_index_remove(spark, "dix", [1, 2], st)
        params = dedup_index_remove(
            spark, "dix", [1, 2, 999_999_999], st)
        assert params["n_docs"] == n0 - 2  # no double-subtract

    def test_compact_folds_tombstones(self, spark, tmp_path):
        import os

        from brahmand_spark.ops.dedup_index import (
            dedup_index_compact, dedup_index_remove,
        )

        corpus, batch, st = self._setup(spark, tmp_path)
        before = dedup_against(spark, "dix", batch, st,
                               threshold=0.5).collect()
        victims = sorted({r["corpus_id"] for r in before})[:2]
        dedup_index_remove(spark, "dix", victims, st)
        mid = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st, threshold=0.5).collect()))
        params = dedup_index_compact(spark, "dix", st)
        assert not os.path.exists(params["sigs_path"] + ".deletes")
        after = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st, threshold=0.5).collect()))
        assert after == mid and len(after) > 0
        assert params["n_docs"] == corpus.count() - 2
        # compact with no tombstones is a no-op
        assert dedup_index_compact(spark, "dix", st)["n_docs"] == \
            params["n_docs"]

    def test_add_rejects_tombstoned_ids(self, spark, tmp_path):
        from brahmand_spark.ops.dedup_index import dedup_index_remove

        corpus, _, st = self._setup(spark, tmp_path)
        some = [r["doc_id"] for r in corpus.limit(2).collect()]
        dedup_index_remove(spark, "dix", some, st)
        readd = corpus.filter(F.col("doc_id").isin(some))
        with pytest.raises(ValueError, match="tombstoned"):
            dedup_index_add(spark, "dix", readd, st)

    def test_string_keyed_index_removal(self, spark, tmp_path):
        """List-form removal must preserve the id TYPE — a long-coerced
        tombstone would silently type-mismatch a string-keyed index's
        anti-join (review r8 pass 2)."""
        from brahmand_spark.ops.dedup_index import dedup_index_remove

        corpus = spark.createDataFrame(
            [("doc-a", "alpha beta gamma delta epsilon zeta"),
             ("doc-b", "alpha beta gamma delta epsilon eta"),
             ("doc-c", "totally different words here now")],
            "doc_id string, text string")
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "sdx", st)
        batch = corpus.filter(F.col("doc_id") == "doc-a").select(
            F.concat(F.lit("new-"), "doc_id").alias("doc_id"), "text")
        before = dedup_against(spark, "sdx", batch, st,
                               threshold=0.3).collect()
        assert {r["corpus_id"] for r in before} >= {"doc-a"}
        params = dedup_index_remove(spark, "sdx", ["doc-a"], st)
        assert params["n_docs"] == 2
        after = dedup_against(spark, "sdx", batch, st,
                              threshold=0.3).collect()
        assert "doc-a" not in {r["corpus_id"] for r in after}

    def test_remove_then_call_surface(self, spark, tmp_path):
        from brahmand_spark import GraphSession

        corpus, batch, st0 = self._setup(spark, tmp_path)
        s = GraphSession(spark, models_path=str(tmp_path / "m"))
        s.execute("CREATE NODE TABLE Victims (doc_id Int64, "
                  "NODE ID (doc_id))")
        victims = corpus.limit(3).select("doc_id")
        s.register_table("Victims", victims)
        n0 = st0.load("dix", "dedup_index")["params"]["n_docs"]
        out = s.execute(
            "CALL corpus.dedup_remove('dix', 'Victims')").collect()
        assert out[0]["n_docs"] == n0 - 3
        out2 = s.execute("CALL corpus.dedup_compact('dix')").collect()
        assert out2[0]["n_docs"] == n0 - 3


class TestDuckDBReplay:
    def test_portable_pipeline_matches_duckdb(self, spark, duck,
                                              tmp_path):
        """Folded-gate-strength value check: the ENTIRE build+probe
        pipeline under hash_fn='portable' — whole-text md5-60
        fingerprints, seeded permutation mins, 16-band bucket
        equality, signature-agreement estimate, exact-pair exclusion
        — replayed independently in DuckDB over the same parquet."""
        from brahmand_spark.ops.dedup import HASH_P, _perm_params

        corpus = _corpus(spark)
        batch = _near_batch(spark).unionByName(
            _docs(spark)
            .filter((F.col("doc_id") % 7 == 0)
                    & (F.col("doc_id") % 5 != 0))
            .select((F.col("doc_id") + 20_000_000).alias("doc_id"),
                    "text"))
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "dix", st, hash_fn="portable")
        got = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st, threshold=0.5).collect()))

        num_hashes, bands, rows = 64, 16, 4
        perms = _perm_params(num_hashes, 42)
        md5h60 = (
            "list_reduce(list_transform("
            "string_split(substr(md5({e}), 1, 15), ''), "
            "c -> (strpos('0123456789abcdef', c) - 1)::BIGINT), "
            "(a, b) -> a * 16 + b)")
        mins = ",\n".join(
            f"min(({a} * h + {b}) % {HASH_P}) AS m{i}"
            for i, (a, b) in enumerate(perms))

        def side(name: str, src: str) -> str:
            return rf"""
            {name}_sh AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, len(t) - 1),
                           i -> array_to_string(t[i:i+2], ' ')))) AS s
                FROM (SELECT doc_id,
                             list_filter(
                                 string_split_regex(text, '\s+'),
                                 x -> x <> '') AS t
                      FROM {src})),
            {name}_sig AS (
                SELECT doc_id, {mins}
                FROM (SELECT doc_id,
                             {md5h60.format(e='s')} % {HASH_P} AS h
                      FROM {name}_sh)
                GROUP BY doc_id),
            {name}_fp AS (
                SELECT doc_id, {md5h60.format(e='text')} AS fp
                FROM {src})"""

        band_conds = "\n              OR ".join(
            "(" + " AND ".join(
                f"sa.m{b * rows + r} = sb.m{b * rows + r}"
                for r in range(rows)) + ")"
            for b in range(bands))
        matches = " + ".join(
            f"(sa.m{i} = sb.m{i})::INT" for i in range(num_hashes))
        want = sorted(map(tuple, duck.execute(rf"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                WHERE doc_id % 5 <> 0),
            batch AS (
                SELECT doc_id + 10000000 AS doc_id,
                       text || ' zzz' AS text
                FROM documents WHERE doc_id % 5 = 0
                UNION ALL
                SELECT doc_id + 20000000, text FROM documents
                WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0),
            {side('c', 'corpus')},
            {side('b', 'batch')},
            exact AS (
                SELECT DISTINCT b.doc_id AS new_id,
                       c.doc_id AS corpus_id
                FROM b_fp b JOIN c_fp c ON b.fp = c.fp),
            near AS (
                SELECT sb.doc_id AS new_id, sa.doc_id AS corpus_id,
                       round(({matches}) / 64.0, 6) AS est_jaccard
                FROM b_sig sb JOIN c_sig sa ON ({band_conds})
                WHERE round(({matches}) / 64.0, 6) >= 0.5
                  AND NOT EXISTS (
                      SELECT 1 FROM exact e
                      WHERE e.new_id = sb.doc_id
                        AND e.corpus_id = sa.doc_id))
            SELECT new_id, corpus_id, 1.0::DOUBLE AS est_jaccard,
                   'exact' AS match_kind FROM exact
            UNION ALL
            SELECT new_id, corpus_id, est_jaccard, 'near'
            FROM near""").fetchall()))
        assert got == want and len(got) > 0
        assert any(r[3] == "exact" for r in got)
        assert any(r[3] == "near" for r in got)


class TestDuckDBReplayCapAndTombstones:
    def test_capped_tombstoned_probe_matches_duckdb(
            self, spark, duck, tmp_path):
        """hot_bucket_cap and tombstones, oracle-checked: the near
        route skips corpus buckets holding more than cap docs, the
        exact route is uncapped, and a removed doc vanishes from
        BOTH — the whole thing replayed in DuckDB over the same
        parquet (portable hash)."""
        from brahmand_spark.ops.dedup import HASH_P, _perm_params
        from brahmand_spark.ops.dedup_index import dedup_index_remove

        cap = 2
        corpus = _corpus(spark)
        batch = _near_batch(spark).unionByName(
            _docs(spark)
            .filter((F.col("doc_id") % 7 == 0)
                    & (F.col("doc_id") % 5 != 0))
            .select((F.col("doc_id") + 20_000_000).alias("doc_id"),
                    "text"))
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "dix", st, hash_fn="portable")
        # tombstone one corpus doc that actually matches something
        hit = dedup_against(spark, "dix", batch, st,
                            threshold=0.5).limit(1).collect()
        victim = hit[0]["corpus_id"]
        dedup_index_remove(spark, "dix", [victim], st)
        got = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st, threshold=0.5,
            hot_bucket_cap=cap).collect()))

        num_hashes, bands, rows = 64, 16, 4
        perms = _perm_params(num_hashes, 42)
        md5h60 = (
            "list_reduce(list_transform("
            "string_split(substr(md5({e}), 1, 15), ''), "
            "c -> (strpos('0123456789abcdef', c) - 1)::BIGINT), "
            "(a, b) -> a * 16 + b)")
        mins = ",\n".join(
            f"min(({a} * h + {b}) % {HASH_P}) AS m{i}"
            for i, (a, b) in enumerate(perms))

        def side(name: str, src: str) -> str:
            return rf"""
            {name}_sh AS (
                SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           range(1, len(t) - 1),
                           i -> array_to_string(t[i:i+2], ' ')))) AS s
                FROM (SELECT doc_id,
                             list_filter(
                                 string_split_regex(text, '\s+'),
                                 x -> x <> '') AS t
                      FROM {src})),
            {name}_sig AS (
                SELECT doc_id, {mins}
                FROM (SELECT doc_id,
                             {md5h60.format(e='s')} % {HASH_P} AS h
                      FROM {name}_sh)
                GROUP BY doc_id),
            {name}_fp AS (
                SELECT doc_id, {md5h60.format(e='text')} AS fp
                FROM {src})"""

        def bucket_key(alias: str, b: int) -> str:
            return ("concat_ws(','," + ", ".join(
                f"{alias}.m{b * rows + r}" for r in range(rows)) + ")")

        # corpus-side banded buckets + per-bucket sizes (live docs)
        c_buckets = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, {bucket_key('c_sig', b)} "
            f"AS bucket FROM c_sig" for b in range(bands))
        b_buckets = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, {bucket_key('b_sig', b)} "
            f"AS bucket FROM b_sig" for b in range(bands))
        matches = " + ".join(
            f"(sa.m{i} = sb.m{i})::INT" for i in range(num_hashes))
        want = sorted(map(tuple, duck.execute(rf"""
            WITH corpus0 AS (
                SELECT doc_id, text FROM documents
                WHERE doc_id % 5 <> 0),
            corpus AS (  -- tombstoned doc removed from the live set
                SELECT * FROM corpus0 WHERE doc_id <> {victim}),
            batch AS (
                SELECT doc_id + 10000000 AS doc_id,
                       text || ' zzz' AS text
                FROM documents WHERE doc_id % 5 = 0
                UNION ALL
                SELECT doc_id + 20000000, text FROM documents
                WHERE doc_id % 7 = 0 AND doc_id % 5 <> 0),
            {side('c', 'corpus')},
            {side('b', 'batch')},
            cb AS ({c_buckets}),
            bb AS ({b_buckets}),
            cap_ok AS (
                SELECT band, bucket FROM cb
                GROUP BY band, bucket HAVING count(*) <= {cap}),
            cands AS (
                SELECT DISTINCT bb.doc_id AS new_id,
                       cb.doc_id AS corpus_id
                FROM bb
                JOIN cap_ok USING (band, bucket)
                JOIN cb USING (band, bucket)),
            exact AS (
                SELECT DISTINCT b.doc_id AS new_id,
                       c.doc_id AS corpus_id
                FROM b_fp b JOIN c_fp c ON b.fp = c.fp),
            near AS (
                SELECT cands.new_id, cands.corpus_id,
                       round(({matches}) / 64.0, 6) AS est_jaccard
                FROM cands
                JOIN b_sig sb ON sb.doc_id = cands.new_id
                JOIN c_sig sa ON sa.doc_id = cands.corpus_id
                WHERE round(({matches}) / 64.0, 6) >= 0.5
                  AND NOT EXISTS (
                      SELECT 1 FROM exact e
                      WHERE e.new_id = cands.new_id
                        AND e.corpus_id = cands.corpus_id))
            SELECT new_id, corpus_id, 1.0::DOUBLE AS est_jaccard,
                   'exact' AS match_kind FROM exact
            UNION ALL
            SELECT new_id, corpus_id, est_jaccard, 'near'
            FROM near""").fetchall()))
        assert got == want and len(got) > 0
        assert all(r[1] != victim for r in got)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


class TestStatsAndReplay:
    """r9 contract fixes (VERDICT r8 'What's wrong' 1–3): the capped
    probe consults the persisted (band, bucket, n) stats table — no
    corpus-side aggregation in its plan — and batch-keyed adds are
    replay-idempotent partition overwrites."""

    def test_capped_probe_plan_has_no_corpus_aggregation(
            self, spark, tmp_path):
        """On a fresh index (no deltas, no tombstones) the capped
        probe's physical plan must (a) push the n > cap filter into
        the stats scan and (b) contain exactly as many aggregations
        as the UNCAPPED probe — the cap adds a filtered scan plus an
        anti-join, never a groupBy over the corpus buckets table
        (the r8 defect: a corpus-sized re-aggregation per probe)."""
        corpus, batch = _corpus(spark), _near_batch(spark)
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "dix", st)
        capped = dedup_against(spark, "dix", batch, st,
                               hot_bucket_cap=3)
        plain = dedup_against(spark, "dix", batch, st)
        plan = _plan(capped)
        assert "GreaterThan(n,3)" in plan  # pushed into the stats scan
        assert plan.count("HashAggregate") == \
            _plan(plain).count("HashAggregate")
        # and the stats read is partition-pruned to the base
        assert "batch=base" in plan or "PartitionFilters" in plan

    def test_capped_probe_exact_with_deltas_and_tombstones(
            self, spark, tmp_path):
        """Stats reconciliation: after an add (delta partials) and a
        remove (tombstones), a capped probe must equal the capped
        probe of a ONE-SHOT index built over exactly the live doc
        set — delta-heated buckets skip, tombstone-cooled buckets
        un-skip."""
        from brahmand_spark.ops.dedup_index import dedup_index_remove

        docs = _docs(spark)
        half_a = docs.filter(F.col("doc_id") % 10 < 4)
        half_b = docs.filter((F.col("doc_id") % 10 >= 4)
                             & (F.col("doc_id") % 10 < 8))
        batch = _near_batch(spark)
        st = ModelStore(str(tmp_path / "grown"))
        build_dedup_index(half_a, "dix", st)
        dedup_index_add(spark, "dix", half_b, st)
        hit = dedup_against(spark, "dix", batch, st,
                            threshold=0.5).limit(2).collect()
        victims = sorted({r["corpus_id"] for r in hit})
        dedup_index_remove(spark, "dix", victims, st)
        got = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st, threshold=0.5,
            hot_bucket_cap=2).collect()))

        live = half_a.unionByName(half_b).filter(
            ~F.col("doc_id").isin(victims))
        st2 = ModelStore(str(tmp_path / "oneshot"))
        build_dedup_index(live, "dix", st2)
        want = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st2, threshold=0.5,
            hot_bucket_cap=2).collect()))
        assert got == want and len(got) > 0

    def test_replayed_batch_key_overwrites(self, spark, tmp_path):
        """Re-adding the SAME batch under the same batch_key must
        leave the index bit-identical — partition overwrite, n_docs
        corrected, no duplicate sigs/bucket rows (the r8 'weak'
        mark: add_clean crash replay re-appended)."""
        corpus, batch = _corpus(spark), _near_batch(spark)
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "dix", st)
        extra = _docs(spark).filter(F.col("doc_id") % 5 == 0)
        params = dedup_index_add(spark, "dix", extra, st,
                                 batch_key="7")
        n1 = params["n_docs"]
        sigs1 = spark.read.parquet(params["sigs_path"]).count()
        buckets1 = spark.read.parquet(params["buckets_path"]).count()
        probe1 = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st, threshold=0.5).collect()))
        # replay (simulated recovery): same docs, same key
        params = dedup_index_add(spark, "dix", extra, st,
                                 batch_key="7", on_conflict="allow")
        assert params["n_docs"] == n1
        assert spark.read.parquet(params["sigs_path"]).count() == sigs1
        assert spark.read.parquet(
            params["buckets_path"]).count() == buckets1
        probe2 = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st, threshold=0.5).collect()))
        assert probe2 == probe1

    def test_bad_batch_keys_rejected(self, spark, tmp_path):
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(_corpus(spark).limit(20), "dix", st)
        one = _docs(spark).limit(1)
        for bad in ("base", "a/b", "", "a b"):
            with pytest.raises(ValueError, match="batch_key"):
                dedup_index_add(spark, "dix", one, st, batch_key=bad)

    def test_on_conflict_modes(self, spark, tmp_path):
        """'error' raises on an already-indexed id, 'skip' drops the
        overlap and adds only the novel docs, 'allow' trusts the
        caller (the pre-r9 behavior)."""
        docs = _docs(spark)
        corpus = docs.filter(F.col("doc_id") < 200)
        st = ModelStore(str(tmp_path / "m"))
        p0 = build_dedup_index(corpus, "dix", st)
        overlap = docs.filter((F.col("doc_id") >= 100)
                              & (F.col("doc_id") < 300))
        n_novel = overlap.filter(F.col("doc_id") >= 200).count()
        with pytest.raises(ValueError, match="already present"):
            dedup_index_add(spark, "dix", overlap, st)
        # skip: only the novel half lands
        p1 = dedup_index_add(spark, "dix", overlap, st,
                             on_conflict="skip")
        assert p1["n_docs"] == p0["n_docs"] + n_novel
        assert spark.read.parquet(p1["sigs_path"]).count() == \
            p1["n_docs"]
        # allow: duplicates land verbatim (caller's contract)
        p2 = dedup_index_add(
            spark, "dix",
            docs.filter(F.col("doc_id") < 10), st, on_conflict="allow")
        assert p2["n_docs"] == p1["n_docs"] + 10
        with pytest.raises(ValueError, match="on_conflict"):
            dedup_index_add(spark, "dix", overlap, st,
                            on_conflict="nope")

    def test_stats_fold_keeps_results_exact(self, spark, tmp_path):
        """Adds past stats_fold_every trigger the delta fold; capped
        probes before and after the fold agree with a one-shot
        rebuild (the fold changes WHERE counts live, never what they
        sum to)."""
        docs = _docs(spark)
        parts = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]
        batch = _near_batch(spark)
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(parts[0], "dix", st, stats_fold_every=2)
        for p in parts[1:]:
            dedup_index_add(spark, "dix", p, st)
        params = st.load("dix", "dedup_index")["params"]
        assert params["stats_deltas"] < 3  # a fold happened
        got = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st, threshold=0.5,
            hot_bucket_cap=2).collect()))
        st2 = ModelStore(str(tmp_path / "oneshot"))
        build_dedup_index(docs, "dix", st2)
        want = sorted(map(tuple, dedup_against(
            spark, "dix", batch, st2, threshold=0.5,
            hot_bucket_cap=2).collect()))
        assert got == want and len(got) > 0

    def test_empty_list_removal_on_string_keys(self, spark, tmp_path):
        """An empty removal list against a string-keyed index must be
        a clean no-op — the r9 advice fix: the empty frame takes its
        id type from the live table instead of hardcoding long."""
        from brahmand_spark.ops.dedup_index import dedup_index_remove

        corpus = spark.createDataFrame(
            [("doc-a", "alpha beta gamma delta epsilon zeta"),
             ("doc-b", "totally different words here now")],
            "doc_id string, text string")
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "sdx", st)
        params = dedup_index_remove(spark, "sdx", [], st)
        assert params["n_docs"] == 2

    def test_stream_add_clean_replay_idempotent(self, spark, tmp_path):
        """The dedup_against_stream ingest loop survives micro-batch
        replay: re-running (batch_df, batch_id) re-emits the same
        pairs, overwrites the same index partitions, and leaves
        n_docs and every table row count unchanged (the r8 'weak'
        mark, closed by batch_key partition overwrite)."""
        from brahmand_spark.streaming.dedup_stream import _against_batch

        docs = _docs(spark)
        corpus = docs.filter(F.col("doc_id") < 100)
        st = ModelStore(str(tmp_path / "m"))
        build_dedup_index(corpus, "six", st)
        batch = docs.filter((F.col("doc_id") >= 400)
                            & (F.col("doc_id") < 430)).select(
            (F.col("doc_id") + 30_000_000).alias("doc_id"), "text")
        results = []
        args = dict(store=st, sink=lambda df, bid: results.extend(
            tuple(r) for r in df.collect()),
            threshold=0.5, include_exact=True, exclude_self=False,
            hot_bucket_cap=None, add_clean=True)
        _against_batch(spark, "six", batch, 0, **args)
        params = st.load("six", "dedup_index")["params"]
        n1 = params["n_docs"]
        sigs1 = spark.read.parquet(params["sigs_path"]).count()
        first = sorted(results)
        assert n1 > 100  # clean docs were added
        # replay after simulated crash-before-checkpoint-commit
        results.clear()
        _against_batch(spark, "six", batch, 0, **args)
        params = st.load("six", "dedup_index")["params"]
        assert params["n_docs"] == n1
        assert spark.read.parquet(params["sigs_path"]).count() == sigs1
        assert sorted(results) == first
        # a LATER batch still dedups against batch 0's additions:
        # near-copies of docs that were ADDED as clean must match
        # them (and, being dups, must not grow the index)
        matched = {r[0] for r in first}
        clean_ids = [r["doc_id"] for r in batch.collect()
                     if r["doc_id"] not in matched][:3]
        assert len(clean_ids) == 3
        copies = batch.filter(F.col("doc_id").isin(clean_ids)).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat("text", F.lit(" qq")).alias("text"))
        results.clear()
        _against_batch(spark, "six", copies, 1, **args)
        assert {r[1] for r in results} >= set(clean_ids)
        assert st.load("six", "dedup_index")["params"]["n_docs"] == n1


class TestReplaceDirCrashSafety:
    """ops/fs.replace_dir (r9 advice fix): the swap must never pass
    through a state with NO live directory — the old dir is renamed
    aside, not deleted up front — and a stale aside from a prior
    crash is cleared."""

    def test_swap_and_aside_cleanup(self, spark, tmp_path):
        import os

        from brahmand_spark.ops.fs import replace_dir

        live = str(tmp_path / "t")
        tmp = str(tmp_path / "t.compact")
        spark.range(3).write.parquet(live)
        spark.range(5).write.parquet(tmp)
        # stale aside from a previous crashed swap
        spark.range(1).write.parquet(live + ".old")
        replace_dir(spark, tmp, live)
        assert spark.read.parquet(live).count() == 5
        assert not os.path.exists(tmp)
        assert not os.path.exists(live + ".old")

    def test_swap_into_fresh_path(self, spark, tmp_path):
        from brahmand_spark.ops.fs import replace_dir

        live = str(tmp_path / "new")
        tmp = str(tmp_path / "new.compact")
        spark.range(4).write.parquet(tmp)
        replace_dir(spark, tmp, live)
        assert spark.read.parquet(live).count() == 4


class TestCallSurface:
    def test_build_add_probe_via_call(self, spark, tmp_path):
        from brahmand_spark import GraphSession

        s = GraphSession(spark, models_path=str(tmp_path / "dm"))
        for lbl, df in (
            ("HalfA", _corpus(spark).filter(F.col("doc_id") % 2 == 0)),
            ("HalfB", _corpus(spark).filter(F.col("doc_id") % 2 == 1)),
            ("Batch", _near_batch(spark)),
        ):
            s.execute(f"CREATE NODE TABLE {lbl} (doc_id Int64, "
                      "text String, NODE ID (doc_id))")
            s.register_table(lbl, df)
        meta = s.execute(
            "CALL corpus.build_dedup_index('HalfA', 'dix')").collect()
        assert meta[0]["n_docs"] > 0
        out = s.execute(
            "CALL corpus.dedup_add('dix', 'HalfB')").collect()
        assert out[0]["n_docs"] > meta[0]["n_docs"]
        got = sorted(map(tuple, s.execute(
            "CALL corpus.dedup_against('dix', 'Batch', 0.5) "
            "YIELD new_id, corpus_id, est_jaccard, match_kind"
        ).collect()))
        st = ModelStore(str(tmp_path / "dm"))
        want = sorted(map(tuple, dedup_against(
            spark, "dix", _near_batch(spark), st,
            threshold=0.5).collect()))
        assert got == want and len(got) > 0
        # a FRESH session over the same store probes without rebuild
        s2 = GraphSession(spark, models_path=str(tmp_path / "dm"))
        s2.execute("CREATE NODE TABLE Batch (doc_id Int64, "
                   "text String, NODE ID (doc_id))")
        s2.register_table("Batch", _near_batch(spark))
        again = sorted(map(tuple, s2.execute(
            "CALL corpus.dedup_against('dix', 'Batch', 0.5) "
            "YIELD new_id, corpus_id, est_jaccard, match_kind"
        ).collect()))
        assert again == got
