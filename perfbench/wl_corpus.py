"""``corpus_neardup``: run the registered ``dedup_exact`` and
``dedup_minhash_lsh`` query functions over a seeded synthetic corpus,
closed loop.

The corpus is written as ``documents.parquet`` and its directory is passed
as ``sf_dir``, exactly as the fixture tables are; the queries' own
``corpus()`` then adds its ~1.34x augmentation. Loads ``functions.text``
and the ``operators.dedup_queries`` band self-join shuffle; never touches
streaming or txlog. Outputs are checked, untimed, against the repo's DuckDB
oracle SQL in ``ORACLES``.
"""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.checks import multiset_diff, pair_recall
from perfbench.common import cores, median

SPEC = gen.CorpusSpec(docs=5_000)
WARMUP_SPEC = gen.CorpusSpec(docs=500)
QUERIES = ("dedup_exact", "dedup_minhash_lsh")
_LIGHT, _HEAVY = QUERIES


#: ``_SHINGLES_SQL`` as the oracle writes it re-splits the text three times
#: per shingle (quadratic in document length: ~85 s on 5k documents); this
#: twin splits once per document and builds the same shingles from the
#: array, and is materialized because three branches read it (~1.3 s).
_SHINGLES_ONCE = r"""
doc_shingles AS MATERIALIZED (
    SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(toks) - 1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM corpus)
)
"""


def oracle_sql(name: str) -> str:
    """The repo's DuckDB oracle for ``name``, with the shingle CTE swapped
    for its split-once twin; everything else is the ``ORACLES`` text."""
    from change_data_capture_spark.operators.dedup_queries import _SHINGLES_SQL
    from change_data_capture_spark.queries import ORACLES

    return ORACLES[name].replace(_SHINGLES_SQL.strip(), _SHINGLES_ONCE.strip())


class CorpusNeardup:
    def __init__(self, ctx):
        self.ctx = ctx
        self.results: dict[str, list[list[tuple]]] = {q: [] for q in QUERIES}

    def _run(self, name: str, sf_dir: str) -> list[tuple]:
        import change_data_capture_spark.operators.dedup_queries  # noqa: F401 (registers)
        from change_data_capture_spark.queries import QUERIES as REGISTERED

        return [tuple(r) for r in REGISTERED[name](self.ctx.spark, sf_dir).collect()]

    # -- set-up --------------------------------------------------------------

    def warm_up(self) -> None:
        d = os.path.join(self.ctx.work, "warmup")
        gen.write_corpus(self.ctx.seed + 1, WARMUP_SPEC, d)
        for q in QUERIES:
            self.ctx.spark.catalog.clearCache()
            self._run(q, d)

    def set_up(self, d: str) -> None:
        self.sf_dir = d
        self.planted = gen.write_corpus(self.ctx.seed, SPEC, d)

    # -- the closed loop -----------------------------------------------------

    def step(self) -> None:
        ctx = self.ctx
        total = 0.0
        for q in QUERIES:
            # the minhash query persists its shingle and signature relations;
            # a later run must not replay them from the cache
            ctx.spark.catalog.clearCache()
            ok, rows = ctx.timed(q, self._run, q, self.sf_dir)
            if not ok:
                return
            self.results[q].append(rows)
            total += ctx.samples[q][-1]
        ctx.add("docs_per_s", self.n_docs() / total)

    def n_docs(self) -> int:
        """Documents the queries see: the corpus plus ``corpus()``'s
        replicas (doc_id % 10 == 0) and mutations (doc_id % 7 == 0)."""
        n = SPEC.docs
        return n + len(range(0, n, 10)) + len(range(0, n, 7))

    # -- checks and metrics --------------------------------------------------

    def check(self) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {cores()}")
            path = os.path.join(self.sf_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            for q in QUERIES:
                want = [tuple(r) for r in con.execute(oracle_sql(q)).fetchall()]
                bad = []
                for rows in self.results[q]:
                    bad += multiset_diff(want, rows, q)
                self.ctx.check(f"{q} vs oracle ({len(self.results[q])} runs)", bad)
        finally:
            con.close()

    def end_to_end(self) -> dict:
        s = self.ctx.samples
        return {
            "throughput_per_s": median(s.get("docs_per_s", [])),
            "light_op_p50_s": median(s.get(_LIGHT, [])),
        }

    def breakdown(self) -> dict:
        s = self.ctx.samples
        return {
            "op.exact_dedup_s": median(s.get(_LIGHT, [])),
            "op.neardup_s": median(s.get(_HEAVY, [])),
        }

    def probe(self) -> None:
        """Layer probes outside the timed loop (traced runs only): shingling
        and signatures into noop sinks, and the counting-only passes over the
        LSH bands."""
        from pyspark.sql import functions as F

        from change_data_capture_spark.operators.dedup_queries import (
            corpus,
            doc_shingles,
            minhash_band_rel,
            minhash_signature_rel,
        )

        spark, tr = self.ctx.spark, self.ctx.tracer

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with tr.span("text.doc_shingles"):
            noop(doc_shingles(corpus(spark, self.sf_dir)))
        self.shingle_s = time.perf_counter() - t0
        sh = doc_shingles(corpus(spark, self.sf_dir))
        self.shingle_rows = sh.count()
        t0 = time.perf_counter()
        with tr.span("dedup.signatures"):
            noop(minhash_signature_rel(sh))
        self.signature_s = time.perf_counter() - t0
        bands = minhash_band_rel(minhash_signature_rel(sh)).persist()
        self.band_collisions = (
            bands.groupBy("band", "sig")
            .count()
            .select(F.sum(F.col("count") * (F.col("count") - 1) / 2))
            .collect()[0][0]
        ) or 0
        a, b = bands.alias("a"), bands.alias("b")
        self.candidates = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )
        bands.unpersist()
        if not self.results[_HEAVY]:  # probed without a loop (lakehouse_mix)
            self.results[_HEAVY].append(self._run(_HEAVY, self.sf_dir))

    def layers(self) -> dict:
        pairs = self.results[_HEAVY][-1] if self.results[_HEAVY] else []
        return {
            "text.shingle_rows": self.shingle_rows,
            "text.shingle_s": self.shingle_s,
            "dedup.signature_s": self.signature_s,
            "dedup.band_collisions": self.band_collisions,
            "dedup.verified_pairs": len(pairs),
            "dedup.candidate_precision": len(pairs) / max(1, self.candidates),
            "dedup.planted_recall": pair_recall(
                {(a, b) for a, b, _ in pairs}, self.planted
            ),
        }
