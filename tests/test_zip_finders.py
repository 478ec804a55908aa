"""Worker import caches after ``session.release_zip_finders``: zip finders
are dropped, and imports from a zip still resolve, lazily and from the
archive's current contents."""

from __future__ import annotations

import importlib
import re
import sys
import zipfile
import zipimport

import pyarrow as pa

from flink_neo4j_spark.session import release_zip_finders
from flink_neo4j_spark.sources.cypher import read_cypher, write_cypher
from flink_neo4j_spark.sources.transport import FileTransport


def _write_zip(path, pkg, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        for name in modules:
            zf.writestr(f"{pkg}/{name}.py", f"NAME = {name!r}\n")


def test_release_drops_zip_finders_and_imports_still_resolve(tmp_path):
    pkg = "zipfinder_probe_pkg"
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, pkg, ["a", "b"])
    saved_path = list(sys.path)
    saved_modules = set(sys.modules)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module(f"{pkg}.a").NAME == "a"
        assert any(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())

        release_zip_finders()
        assert not any(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        assert archive not in zipimport._zip_directory_cache

        importlib.invalidate_caches()
        assert importlib.import_module(f"{pkg}.b").NAME == "b"

        # the archive is rewritten in place, as a re-shipped package zip is;
        # the next finder reads its new directory, not a cached one
        _write_zip(archive, pkg, ["a", "b", "c"])
        release_zip_finders()
        importlib.invalidate_caches()
        assert importlib.import_module(f"{pkg}.c").NAME == "c"
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - saved_modules:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


def test_worker_imports_resolve_after_connector_tasks(spark, tmp_path):
    """Eight-partition connector writes and reads release the workers' zip
    finders; a later task on those workers still imports a ``pyspark.zip``
    module that no connector task imported."""
    spool = str(tmp_path / "workers")
    df = spark.range(0, 64, 1, 8).selectExpr("CAST(id AS INT) AS n")
    assert write_cypher(df, lambda: FileTransport(spool), label="Num", batch_size=5) == 64

    class ModTransport(FileTransport):
        """Spool fake that answers the id-range split predicate."""

        def run(self, statement, rows=None, params=None):
            out = super().run(statement, rows)
            if rows is None:
                n, i = map(int, re.search(r"% (\d+) = (\d+)", statement).groups())
                return [r for r in out if r["n"] % n == i]
            return out

    back = read_cypher(
        spark,
        lambda: ModTransport(spool),
        "MATCH (n:Num) RETURN n.n",
        schema="n int",
        num_partitions=8,
        partition_template="MATCH (n:Num) WHERE n.n % {n} = {i} RETURN n.n",
    )
    assert sorted(r["n"] for r in back.collect()) == list(range(64))

    def import_probe(batches):
        import pyspark.ml.linalg as probe

        for batch in batches:
            yield pa.RecordBatch.from_pydict({"mod": [probe.__name__] * batch.num_rows})

    probe = spark.range(0, 8, 1, 8).mapInArrow(import_probe, "mod string").collect()
    assert [r["mod"] for r in probe] == ["pyspark.ml.linalg"] * 8
