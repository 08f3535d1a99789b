from __future__ import annotations

import ast
import gc
import os
import re
import sys
import threading
import time
import weakref

from qdrant_datafusion_spark import session as session_mod
from qdrant_datafusion_spark.session import session_cached

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "qdrant_datafusion_spark",
)

#: reviewed (file, top-level def) pairs that build an RDD-backed relation
RDD_RELATION_ALLOWED = {
    # boilerplate-skew fixture: 2x n_docs rows of one constant string,
    # consumed ONLY by signature builders that fan_out before the
    # shingle walk (verified round 13)
    ("entry_queries.py", "_skew_fixture"),
    # 63-row literal bucket table feeding a broadcast join
    ("entry_queries.py", "q_range_bucket_join"),
}


def _is_rdd_relation_call(node: ast.AST) -> bool:
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return False
    if node.func.attr == "parallelize":
        return True
    recv = node.func.value
    name = getattr(recv, "id", None) or getattr(recv, "attr", None)
    return node.func.attr == "range" and name in ("spark", "sparkSession")


def _new_rdd_relation_sites(sources: dict[str, str]) -> set[tuple[str, str]]:
    """(file, enclosing top-level def) of every spark.range / .parallelize
    call in ``sources`` (relative path -> text) that is not allowlisted."""
    found = set()
    for rel, text in sources.items():
        for top in ast.parse(text).body:
            owner = getattr(top, "name", "<module>")
            if any(_is_rdd_relation_call(n) for n in ast.walk(top)):
                found.add((rel, owner))
    return found - RDD_RELATION_ALLOWED


class TestSessionScaleConfigs:
    """The two deliberately-coupled parallelism knobs (round 13).

    ``spark.default.parallelism=1`` exists ONLY to stop driver-local
    1-row relations (pyspark.ml DefaultParamsWriter metadata) from being
    sliced into per-core pickled partitions that a coalesce(1) consumer
    walks sequentially through Python-worker roundtrips.  AQE's
    coalescePartitions floor silently falls back to defaultParallelism
    when ``minPartitionNum`` is unset, so the =1 fix would otherwise let
    AQE coalesce every small-byte shuffle to ONE partition and serialize
    CPU-heavy post-shuffle stages (measured 2.3x on the 10x kNN-graph
    gate).  The session must therefore always pin the floor explicitly
    to the scale-parameterised shuffle-partition count.
    """

    def test_aqe_floor_pinned_to_shuffle_partitions(self, spark):
        assert spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionNum"
        ) == spark.conf.get("spark.sql.shuffle.partitions")

    def test_default_parallelism_stays_one_for_local_relations(self, spark):
        # the ML-writer fix: 1 slice for driver-local parallelize /
        # createDataFrame relations (overridable via
        # $SPARK_GRAFT_DEFAULT_PARALLELISM, untouched in tests)
        import os

        expected = int(os.environ.get("SPARK_GRAFT_DEFAULT_PARALLELISM", "1"))
        assert spark.sparkContext.defaultParallelism == expected

    def test_default_parallelism_one_rdd_relation_allowlist(self):
        # Guard for the global default.parallelism=1 knob (r13 VERDICT
        # item 4): any RDD-backed relation (spark.range, parallelize)
        # materializes at ONE partition under it, so a future operator
        # ranging over a large n would silently serialize its kernel.
        # Every spark.range site in the package must either stay a tiny
        # literal relation or be immediately re-spread (fan_out /
        # repartition) before heavy per-row work — reviewed sites are
        # pinned here; adding a new one requires re-review.
        import glob

        sources = {}
        for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
            with open(path, encoding="utf-8") as f:
                sources[os.path.relpath(path, PKG)] = f.read()
        new_sites = _new_rdd_relation_sites(sources)
        assert not new_sites, (
            "new RDD-backed relation site(s) under default.parallelism=1 "
            f"need review + allowlisting: {sorted(new_sites)}"
        )

    def test_rdd_relation_scanner_attributes_nested_and_decorated_defs(self):
        # the scanner attributes each call to its enclosing TOP-LEVEL def
        # through decorators and nested build functions, and ignores
        # comments and strings
        source = (
            "# spark.range(1) in a comment\n"
            "DOC = 'spark.range(2) in a string'\n"
            "@session_cached\n"
            "def _skew_fixture(spark, sf_dir):\n"
            "    return spark.range(3)\n"
            "def q_new(spark):\n"
            "    def build():\n"
            "        return spark.sparkContext.parallelize([1])\n"
            "    return build()\n"
        )
        assert _new_rdd_relation_sites({"entry_queries.py": source}) == {
            ("entry_queries.py", "q_new")
        }

    def test_aqe_floor_binds_on_byte_heavy_shuffle(self, spark):
        # Round-14 rewrite of a previously-vacuous pin (ADVICE r13): the
        # old assertion matched a string AQE never renders, over a query
        # that planned NO exchange at all (spark.range is 1-partition
        # under default.parallelism=1, and SinglePartition satisfies the
        # groupBy distribution).  The honest contract, measured:
        #
        # - shuffles ABOVE ~minPartitionNum x minPartitionSize keep at
        #   least the pinned floor's parallelism (no collapse to 1);
        # - shuffles BELOW that merge toward 1 BY DESIGN (byte-bound;
        #   forcing the floor to bind everywhere was A/B-measured in
        #   round 14 as a 1.5-3x net regression across 6 of 18 gates —
        #   see session.py's minPartitionSize note).  CPU-heavy small
        #   shuffles spread explicitly via fan_out instead.
        #
        # Input is explicitly multi-partition and the aggregate payload
        # is kept live downstream (size(hs)) so column pruning cannot
        # shrink the shuffle below the bind threshold.
        from pyspark.sql import functions as F

        df = (
            spark.range(300_000)
            .repartition(8)
            .select(F.col("id"), F.md5(F.col("id").cast("string")).alias("h"))
            .groupBy((F.col("id") % 4096).alias("k"))
            .agg(F.collect_list("h").alias("hs"))
            .select(
                F.spark_partition_id().alias("p"), F.size("hs").alias("s")
            )
        )
        # collect(), not count(): count() lets the optimizer prune
        # sum(s) -> s -> the collect_list payload, shrinking the shuffle
        # below the bind threshold (the guide §1.4 count() trap)
        occupied = len(df.groupBy("p").agg(F.sum("s")).collect())
        assert occupied >= 2, f"byte-heavy shuffle collapsed to {occupied}"


class _Session:
    """A weak-referenceable stand-in for a SparkSession."""


class TestSessionCache:
    """session.session_cached without Spark: sentinel sessions and a
    build counter."""

    @staticmethod
    def _counted():
        calls = []

        @session_cached
        def build(spark, key):
            calls.append((spark, key))
            return (spark, key)

        return build, calls

    def test_repeat_call_is_a_hit(self):
        build, calls = self._counted()
        s = _Session()
        assert build(s, "a") is build(s, "a")
        assert len(calls) == 1
        build(s, "b")
        assert len(calls) == 2

    def test_other_session_rebuilds(self):
        build, calls = self._counted()
        s1, s2 = _Session(), _Session()
        build(s1, "a")
        assert build(s2, "a") == (s2, "a")
        assert len(calls) == 2

    def test_session_switch_drops_every_old_entry(self):
        build, calls = self._counted()
        old, new = _Session(), _Session()
        build(old, "a")
        build(old, "b")
        old_ref = weakref.ref(old)
        build(new, "a")
        assert [v for v in session_mod._cache.values() if v[0] is not new] == []
        assert len(session_mod._cache) == 1
        del old
        calls.clear()  # the counter's own record holds the old session
        gc.collect()
        assert old_ref() is None

    def test_none_result_is_cached(self):
        calls = []

        @session_cached
        def build(spark):
            calls.append(spark)

        s = _Session()
        assert build(s) is None
        assert build(s) is None
        assert len(calls) == 1

    def test_concurrent_sessions_never_share_entries(self):
        @session_cached
        def build(spark, key):
            time.sleep(0)  # yield between the session check and the store
            return (spark, key)

        sessions = [_Session(), _Session()]
        wrong = []

        def worker(i):
            for j in range(200):
                s = sessions[(i + j) % 2]
                if build(s, j % 3)[0] is not s:
                    wrong.append((i, j))

        old_interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(old_interval)
        assert not any(t.is_alive() for t in threads)
        assert wrong == []


class TestSessionCacheOnSpark:
    def test_knn_gates_share_one_build(self, spark, sf_dir, monkeypatch):
        # ann_knn_graph and graph_pagerank ride one pinned kNN table per
        # session; a fresh session object forces the first build
        from qdrant_datafusion_spark import entry_queries
        from qdrant_datafusion_spark.operators import ann

        calls = []
        real = ann.self_knn_join

        def counted(*args, **kwargs):
            calls.append(1)
            return real(*args, **kwargs)

        monkeypatch.setattr(ann, "self_knn_join", counted)
        fresh = spark.newSession()
        entry_queries.ann_knn_graph(fresh, sf_dir)
        entry_queries.graph_pagerank(fresh, sf_dir)
        assert len(calls) == 1
        # switching back to the fixture session rebuilds for it
        entry_queries.ann_knn_graph(spark, sf_dir)
        assert len(calls) == 2

    def test_register_all_per_session(self, spark):
        from qdrant_datafusion_spark.functions import register_all

        q = "SELECT V_SEARCH(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS s"
        fresh = spark.newSession()
        register_all(fresh)
        assert fresh.sql(q).collect()[0]["s"] == 1.0
        # refill the cache for the fixture session later tests share
        register_all(spark)
        assert spark.sql(q).collect()[0]["s"] == 1.0


def _holds_session(ann: ast.AST) -> bool:
    """Whether a type annotation stores a SparkSession (a Callable's
    parameter types only describe a signature)."""
    if isinstance(ann, ast.Subscript) and "Callable" in ast.unparse(ann.value):
        return False
    if isinstance(ann, ast.Name) and ann.id == "SparkSession":
        return True
    return any(_holds_session(c) for c in ast.iter_child_nodes(ann))


def test_no_hand_rolled_session_memos():
    # regrowth guard: the one session cache lives in session.py, so no
    # other module holds module-level session-annotated state or a
    # _*_MEMO table
    bad = []
    for root, _, files in os.walk(PKG):
        for fn in files:
            rel = os.path.relpath(os.path.join(root, fn), PKG)
            if not fn.endswith(".py") or rel == "session.py":
                continue
            with open(os.path.join(PKG, rel), encoding="utf-8") as f:
                tree = ast.parse(f.read())
            for node in tree.body:
                if isinstance(node, ast.AnnAssign):
                    targets = [node.target]
                    if _holds_session(node.annotation):
                        bad.append((rel, ast.unparse(node.target)))
                elif isinstance(node, ast.Assign):
                    targets = node.targets
                else:
                    continue
                bad += [
                    (rel, t.id)
                    for t in targets
                    if isinstance(t, ast.Name) and re.fullmatch(r"_\w*_MEMO", t.id)
                ]
    assert not bad, f"hand-rolled session memo(s) outside session.py: {bad}"
