"""Stage checkpointing with per-partition lineage + metrics (P8 resume).

Iceberg is the production target (snapshot tables, MERGE, incremental
reads); its runtime jars are not in this sandbox, so this module
implements the same layout on plain parquet:

    <root>/<stage>/data/            partitioned parquet snapshot
    <root>/<stage>/_metrics.json    rows, partitions, wall seconds
    <root>/<stage>/_lineage/        per-partition row counts + content
                                    fingerprints (parquet)

Resume semantics generalize the reference's skip-already-processed-file
check (src/streamlit/app/app.py:345) and its append-only corrections
log discipline (data/corrections_manager.py:105-113): a stage is
complete iff its _SUCCESS exists; partial re-runs anti-join the
completed partition keys (`resume_filter`)."""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _warehouse_location(spark: SparkSession, table: str) -> Path | None:
    """On-disk location a (possibly db-qualified) table maps to in a
    LOCAL-filesystem warehouse, or None for hdfs://, s3a:// etc. —
    where the parsed .path would name an unrelated local directory, so
    rmtree there would either delete an innocent path or silently do
    nothing; on those schemes the catalog/FS own the location (Iceberg
    handles this natively). Explicit db qualifier wins, else the
    session's CURRENT database; only the default db maps to the
    warehouse root (others live under <db>.db/), comparisons
    case-normalized like the catalog itself."""
    from urllib.parse import unquote, urlparse

    parts = table.split(".")
    warehouse_uri = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if warehouse_uri.scheme not in ("", "file"):
        return None
    # unquote: the dir is a URI — %20 etc. must become real chars
    warehouse = Path(unquote(warehouse_uri.path))
    db = (
        parts[0] if len(parts) == 2 else spark.catalog.currentDatabase()
    ).lower()
    name = parts[-1].lower()
    return warehouse / name if db == "default" else warehouse / f"{db}.db" / name


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS + remove its local-warehouse directory (the
    in-memory catalog forgets tables on restart while their warehouse
    directories persist — a stale location otherwise raises
    LOCATION_ALREADY_EXISTS on the next write, or leaks a full-corpus
    copy per staging table)."""
    import shutil

    quoted = ".".join(f"`{p}`" for p in table.split("."))
    spark.sql(f"DROP TABLE IF EXISTS {quoted}")
    loc = _warehouse_location(spark, table)
    if loc is not None:
        shutil.rmtree(loc, ignore_errors=True)


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, buckets: int, sort: bool = True
) -> None:
    """Bucketed (and sorted) parquet table via saveAsTable — the
    co-located-join layout: two tables bucketed on the same key with
    the same bucket count join with NO exchange on either side (the
    scan itself satisfies the join's clustering), which removes the
    remaining shuffle of the detect stage's fan-out join when the
    documents table is stored bucketed by content sha. Bucket metadata
    lives in the session catalog here; Iceberg's `bucket(n, col)`
    partition transform is the production analogue of this layout.

    Idempotent across sessions: the in-memory catalog forgets tables on
    restart while their warehouse directories persist, so the stale
    catalog entry AND location are dropped before the write
    (_drop_table_and_location)."""
    spark = df.sparkSession
    _drop_table_and_location(spark, table)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        buckets, bucket_col
    )
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def drop_bucketed(spark: SparkSession, table: str) -> None:
    """Drop a table written by write_bucketed AND remove its warehouse
    directory. Run-scoped bucketed staging tables (e.g. run_kg_job's
    kg_docs_bucketed_<sha12>) must not leak a full-corpus copy into the
    shared warehouse per distinct workdir — call this once the consumer
    stage's snapshot is materialized."""
    _drop_table_and_location(spark, table)


class CheckpointManager:
    def __init__(self, root: str | Path):
        self.root = Path(root)

    def _stage_dir(self, stage: str) -> Path:
        return self.root / stage

    def exists(self, stage: str) -> bool:
        return (self._stage_dir(stage) / "data" / "_SUCCESS").exists()

    def _bucket_table_name(self, stage: str) -> str:
        """Run-scoped catalog name for a bucketed stage snapshot: the
        workdir hash keeps two concurrent jobs sharing one warehouse
        from clobbering each other's table entry (the DATA always lives
        under this manager's own stage dir, never the warehouse)."""
        import hashlib

        tag = hashlib.sha256(
            str(self.root.resolve()).encode()
        ).hexdigest()[:12]
        return f"ckpt_{stage}_{tag}"

    def metrics_or_none(self, stage: str) -> dict | None:
        """metrics(), tolerating BOTH a missing and a truncated
        _metrics.json (a killed prior run can leave a partial file —
        json.JSONDecodeError is a ValueError); layout/variant decisions
        treat either as 'no recorded metrics'."""
        try:
            return self.metrics(stage)
        except (FileNotFoundError, ValueError):
            return None

    def bucket_spec(self, stage: str) -> dict | None:
        """{'bucket_col', 'n_buckets', 'bucket_table'} if the stage
        snapshot was written bucketed, else None."""
        m = self.metrics_or_none(stage)
        if m is None:
            return None
        if m.get("bucket_col"):
            return {
                "bucket_col": m["bucket_col"],
                "n_buckets": m["n_buckets"],
                "bucket_table": m["bucket_table"],
            }
        return None

    def write(
        self,
        stage: str,
        df: DataFrame,
        partition_by: tuple[str, ...] = (),
        lineage_key: str | None = None,
        variant: str | None = None,
        bucket_by: tuple[str, int] | None = None,
    ) -> None:
        """Materialize a stage snapshot + metrics (+ per-partition lineage
        when lineage_key given: rows and a sha-fold content fingerprint
        per partition value — the north rule's per-partition lineage).

        bucket_by=(col, n) lays the snapshot out as an n-bucket table
        bucketed by col (EXTERNAL table: catalog metadata only, the
        parquet lives in this stage's own data dir). Every later read()
        — including from a fresh session, where the in-memory catalog
        forgot the table — re-registers the table from the recorded
        spec, so the scan itself provides hash-clustering on col and
        downstream stages that need that clustering (detect's
        dedup-by-sha + fan-out join) run with ZERO exchanges on the doc
        side. Local analogue of an Iceberg bucket(n, col) partition
        transform (SURVEY.md §4)."""
        from pyspark.sql import Observation

        if partition_by and bucket_by:
            raise ValueError(
                "checkpoint write: partition_by and bucket_by are "
                "mutually exclusive for one stage"
            )
        d = self._stage_dir(stage)
        t0 = time.time()
        if bucket_by:
            # one task per bucket -> exactly one file per bucket
            # (bucketed writes otherwise emit files-per-task x buckets)
            df = df.repartition(bucket_by[1], F.col(bucket_by[0]))
        if partition_by:
            # co-locate each partition value into a few salted tasks
            # before the partitioned write: avoids shuffle_partitions ×
            # values small files while keeping the write parallel
            # (448 -> ~8 per value for the triples stage)
            salt = F.pmod(F.spark_partition_id(), F.lit(8))
            df = df.repartition(*[F.col(c) for c in partition_by], salt)
        # count the rows DURING the write (Observation rides the write
        # job) instead of re-scanning the snapshot afterwards — the
        # re-scan was pure serial driver time charged to every stage
        # (~2-5s each at the 1.12M-doc corpus)
        schema_json = df.schema.json()
        # failed-write cleanup (measured on Spark 4.1, not assumed): the
        # session-level ObservationManager completes observations on
        # query FAILURE as well as success, so a raised write leaves no
        # map entry behind and a retry's same-name Observation registers
        # cleanly — tests/test_pipeline_e2e.py::
        # test_checkpoint_write_failure_leaves_no_observation_state
        # asserts both (the manager's internal registry drains and a
        # second write of the same stage succeeds). No try/finally is
        # needed; PySpark exposes no unregister surface to call anyway.
        obs = Observation(f"ckpt_rows_{stage}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if bucket_by:
            import shutil

            bucket_col, n_buckets = bucket_by
            table = self._bucket_table_name(stage)
            spark = df.sparkSession
            spark.sql(f"DROP TABLE IF EXISTS `{table}`")
            # CTAS refuses a non-empty location (and the catalog may
            # have forgotten a prior session's table): clear the dir
            shutil.rmtree(d / "data", ignore_errors=True)
            (
                df.write.mode("overwrite")
                .format("parquet")
                .option("path", str((d / "data").resolve()))
                .bucketBy(n_buckets, bucket_col)
                .saveAsTable(table)
            )
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(str(d / "data"))
        wall = time.time() - t0
        # persist the schema: an EMPTY stage writes a parquet dir with
        # no part files, and a schema-less read-back fails with
        # UNABLE_TO_INFER_SCHEMA — an empty stage is legitimate (e.g.
        # zero mentions at tiny scale) and must round-trip
        d.mkdir(parents=True, exist_ok=True)
        (d / "_schema.json").write_text(schema_json)

        n_rows = obs.get["rows"]
        metrics = {
            "stage": stage,
            "rows": n_rows,
            "wall_seconds": round(wall, 3),
            "partition_by": list(partition_by),
            "variant": variant,
        }
        if bucket_by:
            metrics["bucket_col"] = bucket_by[0]
            metrics["n_buckets"] = bucket_by[1]
            metrics["bucket_table"] = self._bucket_table_name(stage)
        if lineage_key:
            back = self.read(df.sparkSession, stage)
            lineage = back.groupBy(lineage_key).agg(
                F.count("*").alias("rows"),
                F.sum(
                    F.crc32(F.concat_ws("\x1f", *back.columns))
                ).alias("content_fingerprint"),
            )
            # the group count rides the lineage write, as `rows` rides
            # the stage write: no second scan and group-by of the snapshot
            lineage_obs = Observation(f"ckpt_lineage_{stage}")
            (
                lineage.observe(lineage_obs, F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(str(d / "_lineage"))
            )
            metrics["lineage_partitions"] = lineage_obs.get["n"]
        (d / "_metrics.json").write_text(json.dumps(metrics, indent=2))

    def get_or_compute_sharded(
        self,
        spark: SparkSession,
        stage: str,
        compute_shard,
        n_shards: int,
        variant: str | None = None,
        force: bool = False,
    ) -> DataFrame:
        """Partition-granular resume (north rule: 'a killed run resumes
        at stage-PARTITION granularity'): the stage is computed as
        n_shards independent sub-jobs — compute_shard(k) returns shard
        k's DataFrame — each committed to data/shard=<k> with its own
        marker (rows, wall, variant) under _shards/. A run killed after
        shard j re-runs ONLY shards j.. on resume; a half-written shard
        is replaced by its own overwrite (task files only surface at
        job commit, so a crashed shard job leaves nothing visible).

        Shard-key discipline is the CALLER's contract: shards must
        partition the input deterministically (e.g.
        pmod(xxhash64(content_sha256), n_shards) == k, which also keeps
        dedup-before-detect exact — every distinct content lives in
        exactly one shard). A variant change (different detector/
        catalog) or a different n_shards invalidates all markers, same
        rule as get_or_compute."""
        import shutil

        import os

        d = self._stage_dir(stage)
        if self.exists(stage) and not force:
            m = self.metrics_or_none(stage) or {}
            if m.get("variant") == variant and m.get("n_shards") == n_shards:
                return self.read(spark, stage)
        shards_dir = d / "_shards"
        # invalidate stale state: shard markers from a different
        # variant/shard count, a COMPLETE stage of any other layout
        # (root _SUCCESS but the fast path above didn't match — e.g. a
        # prior unsharded run whose root part files would conflict with
        # shard=k dirs at read time), or loose root-level part files
        # from an unsharded layout
        stale = self.exists(stage)
        if shards_dir.exists() and not stale:
            for mf in shards_dir.glob("*.json"):
                try:
                    rec = json.loads(mf.read_text())
                except ValueError:
                    continue  # corrupt marker: shard recomputed below
                if rec.get("variant") != variant or rec.get("n_shards") != n_shards:
                    stale = True
                    break
        if not stale and (d / "data").exists():
            stale = any((d / "data").glob("part-*"))
        if force or stale:
            shutil.rmtree(d, ignore_errors=True)
        shards_dir.mkdir(parents=True, exist_ok=True)
        (d / "data").mkdir(parents=True, exist_ok=True)

        from pyspark.sql import Observation

        total_rows, total_wall = 0, 0.0
        schema_json = None
        for k in range(n_shards):
            marker = shards_dir / f"{k}.json"
            rec = None
            if marker.exists():
                try:
                    rec = json.loads(marker.read_text())
                except ValueError:
                    rec = None  # killed mid-marker-write: recompute shard
            if rec is not None:
                total_rows += rec["rows"]
                total_wall += rec["wall_seconds"]
                continue
            t0 = time.time()
            df_k = compute_shard(k)
            if schema_json is None:
                schema_json = df_k.schema.json()
                (d / "_schema.json").write_text(schema_json)
            obs = Observation(f"ckpt_rows_{stage}_s{k}")
            df_k = df_k.observe(obs, F.count(F.lit(1)).alias("rows"))
            df_k.write.mode("overwrite").parquet(str(d / "data" / f"shard={k}"))
            wall = time.time() - t0
            rows = obs.get["rows"]
            # atomic marker commit (tmp + rename): a kill mid-write must
            # leave either no marker (shard recomputed on resume) or a
            # complete one — a truncated marker would otherwise block
            # the resume this whole mechanism exists for
            tmp = marker.with_suffix(".json.tmp")
            tmp.write_text(
                json.dumps(
                    {
                        "shard": k,
                        "rows": rows,
                        "wall_seconds": round(wall, 3),
                        "variant": variant,
                        "n_shards": n_shards,
                    }
                )
            )
            os.replace(tmp, marker)
            total_rows += rows
            total_wall += wall
        # all shards committed: surface the stage as complete for
        # exists()/read() (root _SUCCESS + aggregate metrics)
        (d / "data" / "_SUCCESS").touch()
        (d / "_metrics.json").write_text(
            json.dumps(
                {
                    "stage": stage,
                    "rows": total_rows,
                    "wall_seconds": round(total_wall, 3),
                    "partition_by": ["shard"],
                    "variant": variant,
                    "n_shards": n_shards,
                },
                indent=2,
            )
        )
        return self.read(spark, stage)

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        d = self._stage_dir(stage)
        spec = self.bucket_spec(stage)
        if spec:
            # a fresh session's in-memory catalog forgot the table;
            # re-register it over the existing bucketed files (bucket
            # ids live in the file names, so the recreated table scans
            # with the original hash-clustering guarantee)
            table = spec["bucket_table"]
            if not spark.catalog.tableExists(table):
                from pyspark.sql.types import StructType

                schema = StructType.fromJson(
                    json.loads((d / "_schema.json").read_text())
                )
                cols_ddl = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in schema.fields
                )
                loc = str((d / "data").resolve())
                spark.sql(
                    f"CREATE TABLE `{table}` ({cols_ddl}) USING PARQUET "
                    f"CLUSTERED BY (`{spec['bucket_col']}`) "
                    f"INTO {spec['n_buckets']} BUCKETS "
                    f"LOCATION '{loc}'"
                )
            return spark.table(table)
        schema_file = d / "_schema.json"
        reader = spark.read
        if schema_file.exists():
            from pyspark.sql.types import StructType

            reader = reader.schema(
                StructType.fromJson(json.loads(schema_file.read_text()))
            )
        out = reader.parquet(str(d / "data"))
        if (self.metrics_or_none(stage) or {}).get("n_shards"):
            # sharded layout (get_or_compute_sharded): the shard dir
            # key is resume bookkeeping, not stage schema
            out = out.drop("shard")
        return out

    def metrics(self, stage: str) -> dict:
        return json.loads((self._stage_dir(stage) / "_metrics.json").read_text())

    def lineage(self, spark: SparkSession, stage: str) -> DataFrame:
        """The stage's per-partition lineage table (written when the
        stage was persisted with lineage_key): one row per partition
        value with its row count and content fingerprint."""
        return spark.read.parquet(str(self._stage_dir(stage) / "_lineage"))

    def resume_filter(
        self, spark: SparkSession, stage: str, incoming: DataFrame,
        key_cols: tuple[str, ...],
    ) -> DataFrame:
        """Left-anti join `incoming` against the stage's already-written
        keys: only unprocessed rows flow (stage-partition resume)."""
        if not self.exists(stage):
            return incoming
        done = self.read(spark, stage).select(*key_cols).distinct()
        return incoming.join(done, list(key_cols), "left_anti")

    def get_or_compute(
        self,
        spark: SparkSession,
        stage: str,
        compute,
        partition_by: tuple[str, ...] = (),
        lineage_key: str | None = None,
        force: bool = False,
        variant: str | None = None,
        bucket_by: tuple[str, int] | None = None,
    ) -> DataFrame:
        """The resume primitive: reuse the snapshot if complete, else
        compute, persist, and return the persisted copy (so downstream
        stages read columnar parquet, not a live lineage chain).

        `variant` identifies WHAT produced the snapshot (e.g. the
        detector/catalog): a snapshot written under a different variant
        is recomputed instead of silently served — resuming with
        --gliner-model against a pattern-catalog workdir must not
        return pattern mentions as model output. Pre-variant snapshots
        (no field in metrics) only match a None variant."""
        if self.exists(stage) and not force:
            existing = (self.metrics_or_none(stage) or {}).get("variant")
            if existing == variant:
                return self.read(spark, stage)
        df = compute()
        self.write(
            stage, df, partition_by=partition_by, lineage_key=lineage_key,
            variant=variant, bucket_by=bucket_by,
        )
        return self.read(spark, stage)
