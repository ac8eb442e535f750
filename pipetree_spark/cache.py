"""Content-addressed artifact cache (SURVEY §2.10, §4.3).

Re-expresses the reference's core mechanism — artifacts identified by
definition-hash + dependency-hash, skipped when already materialized
(pipetree's incremental recomputation; /root/reference is empty so the
concept citation is SURVEY §1.1 [PK]) — on Spark:

- artifact  = parquet snapshot at ``<root>/<stage>/<key>/`` plus the
              sidecar ``_pipetree.json``, a JSON object whose ``schema``
              field is the written frame's ``df.schema.jsonValue()``
- key       = sha256 over (canonical stage spec JSON, upstream keys,
              format version) — definition hash + dependency hash
- hit       = the sidecar exists. It is written after the parquet commit
              (temp name, then rename), so it is the commit marker: a
              crash before it leaves a miss, never a hit without a schema
- load      = ``spark.read.schema(<sidecar schema>).parquet(path)``:
              cuts the Spark lineage exactly like the reference's skip,
              and runs no Spark job (no parquet footer schema inference)
- miss      = compute the stage DataFrame, write parquet, write the
              sidecar, load

Format version 2 is the first with sidecars; version-1 artifacts have
different keys, so no key resolves to a directory without one. Spark's
file listing skips ``_``-prefixed names, so readers never see the
sidecar. Paths go through the Hadoop FileSystem API, so ``file://`` and
``s3a://`` roots use the same code (the reference's local vs S3
artifact backends are a config switch here)."""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_FORMAT_VERSION = "2"

#: the artifact's commit marker and schema record — see the module docstring
SIDECAR = "_pipetree.json"

#: per-(process, namespace) private artifact roots — see process_cache_root
_process_cache_roots: dict[str, str] = {}


def process_cache_root(namespace: str) -> str:
    """Per-PROCESS private root for the declared queries that write
    (cache walks, source round-trips, q_pipe_timetravel's snapshot
    store): ``mkdtemp`` once per (process, namespace), removed at
    interpreter exit.

    The previous fixed ``/tmp/pipetree_spark_<ns>_artifacts`` paths let
    artifacts persist ACROSS bench/oracle invocations, so a fresh run's
    warm-up could skip even the cold walk — timing a read of last run's
    outputs instead of ever computing from the parquet inputs. A
    per-process root keeps the certified skip-if-cached semantics (the
    warm-up rep pays the cold materialization, later reps in the same
    process hit), guarantees every invocation computes from the inputs,
    and closes the predictable-name /tmp squat (unpredictable name,
    0700) that a fixed path leaves open to other processes and users.
    """
    root = _process_cache_roots.get(namespace)
    import os as _os

    if root is None or not _os.path.isdir(root):
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix=f"pipetree_{namespace}_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _process_cache_roots[namespace] = root
    return root


def content_key(spec: dict, upstream_keys: list[str]) -> str:
    """sha256(definition ⊕ dependencies): canonical-JSON the stage spec
    (definition hash) and fold in upstream keys (dependency hash)."""
    payload = json.dumps(
        {"spec": spec, "upstream": list(upstream_keys), "v": _FORMAT_VERSION},
        sort_keys=True,
        separators=(",", ":"),
        default=str,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:32]


class ArtifactCache:
    """Durable, content-addressed materialization layer."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def path(self, stage: str, key: str) -> str:
        return f"{self.root}/{stage}/{key}"

    # -- Hadoop FS plumbing (works for file:// and s3a:// alike) ---------
    def _sidecar(self, spark: SparkSession, stage: str, key: str):
        """The sidecar's (FileSystem, Path)."""
        jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{self.path(stage, key)}/{SIDECAR}")
        return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath

    def has(self, spark: SparkSession, stage: str, key: str) -> bool:
        fs, marker = self._sidecar(spark, stage, key)
        return bool(fs.exists(marker))

    def load(self, spark: SparkSession, stage: str, key: str) -> DataFrame:
        """Read the artifact with the schema its sidecar records: Spark
        lists the files but runs no schema-inference job."""
        fs, marker = self._sidecar(spark, stage, key)
        stream = fs.open(marker)
        try:
            text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
        schema = StructType.fromJson(json.loads(text)["schema"])
        return spark.read.schema(schema).parquet(self.path(stage, key))

    def _commit(self, spark: SparkSession, df: DataFrame, stage: str, key: str) -> None:
        """Write the sidecar under a hidden temp name, then rename it into
        place: the artifact is a hit only once its schema is complete."""
        fs, marker = self._sidecar(spark, stage, key)
        tmp = marker.suffix(".tmp")
        payload = json.dumps({"schema": df.schema.jsonValue()}, separators=(",", ":"))
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(payload.encode()))
        finally:
            out.close()
        if not fs.rename(tmp, marker):
            raise OSError(f"could not commit {marker.toString()}")

    def materialize(
        self,
        spark: SparkSession,
        df: DataFrame,
        stage: str,
        key: str,
        bucket_by: tuple[int, list[str]] | None = None,
        sort_by: list[str] | None = None,
    ) -> DataFrame:
        """Write the stage output as the artifact and return a frame that
        READS it (lineage cut — downstream stages never recompute this).

        ``bucket_by=(n, cols)`` (optionally with ``sort_by``) writes a
        bucketed table instead: every downstream equi-join or aggregate
        on the bucket columns is SHUFFLE-FREE (Spark reads the bucket
        spec from the catalog and plans a zero-exchange sort-merge join).
        This is the 100 TB recipe for repeated fact⋈fact joins — pay the
        shuffle once at materialization, never again.

        Both layouts write the sidecar after the data, so :meth:`has`
        means the same for either."""
        if bucket_by is not None:
            n, cols = bucket_by
            writer = df.write.mode("overwrite").bucketBy(n, *cols)
            if sort_by:
                writer = writer.sortBy(*sort_by)
            table = self.table_name(stage, key)
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            writer.option("path", self.path(stage, key)).format("parquet").saveAsTable(table)
            self._commit(spark, df, stage, key)
            return spark.table(table)
        df.write.mode("overwrite").parquet(self.path(stage, key))
        self._commit(spark, df, stage, key)
        return self.load(spark, stage, key)

    @staticmethod
    def table_name(stage: str, key: str) -> str:
        """Catalog identifier for a bucketed artifact (bucket specs live
        in the table catalog, not in parquet footers)."""
        return f"cache_{stage}_{key}".replace("-", "_")

    def load_bucketed(self, spark: SparkSession, stage: str, key: str) -> DataFrame:
        """Cache-hit path for bucketed artifacts: reads via the catalog
        (a plain ``read.parquet`` would drop the bucket spec and
        re-shuffle downstream)."""
        return spark.table(self.table_name(stage, key))
