"""Content-addressed artifact cache (SURVEY §2.10, §4.3).

Re-expresses the reference's core mechanism — artifacts identified by
definition-hash + dependency-hash, skipped when already materialized
(pipetree's incremental recomputation; /root/reference is empty so the
concept citation is SURVEY §1.1 [PK]) — on Spark:

- artifact  = parquet snapshot at ``<root>/<stage>/<key>/``
- key       = sha256 over (canonical stage spec JSON, upstream keys,
              format version) — definition hash + dependency hash
- hit       = ``_SUCCESS`` marker exists → ``spark.read.parquet`` (cuts
              the Spark lineage exactly like the reference's skip)
- miss      = compute the stage DataFrame, write parquet, read back

Paths go through the Hadoop FileSystem API, so ``file://`` and
``s3a://`` roots use the same code (the reference's local vs S3
artifact backends are a config switch here)."""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import DataFrame, SparkSession

_FORMAT_VERSION = "1"

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
    @staticmethod
    def _fs(spark: SparkSession, path: str):
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(hconf), jpath

    def has(self, spark: SparkSession, stage: str, key: str) -> bool:
        fs, _ = self._fs(spark, self.path(stage, key))
        marker = spark._jvm.org.apache.hadoop.fs.Path(self.path(stage, key) + "/_SUCCESS")
        return bool(fs.exists(marker))

    def load(self, spark: SparkSession, stage: str, key: str) -> DataFrame:
        return spark.read.parquet(self.path(stage, key))

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
        shuffle once at materialization, never again."""
        if bucket_by is not None:
            n, cols = bucket_by
            writer = df.write.mode("overwrite").bucketBy(n, *cols)
            if sort_by:
                writer = writer.sortBy(*sort_by)
            table = self.table_name(stage, key)
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            writer.option("path", self.path(stage, key)).format("parquet").saveAsTable(table)
            return spark.table(table)
        df.write.mode("overwrite").parquet(self.path(stage, key))
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
