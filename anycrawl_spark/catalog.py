"""Checkpointed table store: parquet + atomic manifest (SURVEY.md §7.0/§7.4).

The design target is Iceberg (append snapshots per crawl round; snapshot
isolation gives exact resume). This sandbox has no Iceberg jars, so the same
contract is provided over plain parquet behind this thin abstraction
(SURVEY.md §7.4 item 5): every crawl round appends ``<table>/round=<r>/``
directories, and a single JSON manifest records which rounds are COMMITTED.
A kill between writes leaves uncommitted directories that are ignored on
resume — the manifest is the commit point, written atomically via
write-temp + ``os.replace``.

At cluster scale the only change is swapping this class for
``df.writeTo(table).append()`` on an Iceberg catalog; the engine writes
through ``append_round`` (``results``) and ``append_round_local`` (the rest).
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    def __init__(self, root: str | os.PathLike,
                 tables: list[str] | None = None) -> None:
        """``tables``: every table the writer writes. Given it, each commit
        also retires any other table a previous writer left committed."""
        self.root = Path(root)
        self.tables = tables
        self.root.mkdir(parents=True, exist_ok=True)
        self._manifest_path = self.root / "_manifest.json"

    # -- manifest ----------------------------------------------------------
    def _read_manifest(self) -> dict:
        if self._manifest_path.exists():
            with open(self._manifest_path) as f:
                return json.load(f)
        return {"tables": {}, "meta": {}}

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path.with_suffix(".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    # -- round-partitioned appends ----------------------------------------
    def round_path(self, table: str, round_no: int) -> str:
        return str(self.root / table / f"round={round_no}")

    def append_round(self, df: DataFrame, table: str, round_no: int) -> None:
        """Write one round's rows. NOT committed until commit_round runs."""
        df.write.mode("overwrite").parquet(self.round_path(table, round_no))

    def append_round_local(self, arrow_table, table: str, round_no: int) -> None:
        """Driver-side parquet write (pyarrow) of one round's rows — same
        directory layout and read path as append_round, but no Spark job.
        For the round tables the driver builds (the crawl's seen set,
        pending frontiers, visits and metrics); ``results`` uses the
        distributed writer."""
        import pyarrow.parquet as pq

        path = Path(self.round_path(table, round_no))
        if path.exists():
            shutil.rmtree(path)
        path.mkdir(parents=True)
        pq.write_table(arrow_table, path / "part-00000.parquet")

    def commit_round(self, round_no: int, tables: list[str], meta: dict | None = None,
                     replace: list[str] | None = None) -> None:
        """Atomically mark ``round_no`` committed for all given tables.

        Tables named in ``replace`` have their round list REPLACED by
        ``[round_no]``: this round's write is the table's full cumulative
        copy. The swap shares the round's single atomic manifest write, so
        a kill at any point leaves either the previous copy or this one
        committed — never a mix. Superseded round directories are deleted
        after the commit; if that cleanup is interrupted, drop_uncommitted
        removes them at resume (they are no longer in the manifest). Tables
        outside ``self.tables`` leave the manifest in the same write and
        their directories go after it, the same way."""
        manifest = self._read_manifest()
        retired = [t for t in manifest["tables"]
                   if self.tables is not None and t not in self.tables]
        for table in retired:
            del manifest["tables"][table]
        superseded: list[tuple[str, int]] = []
        for table in tables:
            rounds = manifest["tables"].setdefault(table, [])
            if replace and table in replace:
                superseded += [(table, rr) for rr in rounds if rr != round_no]
                rounds[:] = [round_no]
                continue
            if round_no not in rounds:
                rounds.append(round_no)
                rounds.sort()
        if meta:
            manifest["meta"][str(round_no)] = meta
        self._write_manifest(manifest)
        for table, rr in superseded:
            shutil.rmtree(self.round_path(table, rr), ignore_errors=True)
        for table in retired:
            shutil.rmtree(self.root / table, ignore_errors=True)

    def committed_rounds(self, table: str) -> list[int]:
        return self._read_manifest()["tables"].get(table, [])

    def last_round(self) -> int | None:
        manifest = self._read_manifest()
        rounds = sorted({r for rs in manifest["tables"].values() for r in rs})
        return rounds[-1] if rounds else None

    def round_meta(self, round_no: int) -> dict:
        return self._read_manifest()["meta"].get(str(round_no), {})

    def read(self, spark: SparkSession, table: str,
             up_to_round: int | None = None,
             schema: str | None = None) -> DataFrame | None:
        """Union of all committed rounds of ``table`` (optionally ≤ a round).
        ``schema``: optional explicit DDL schema — skips the driver-side
        footer read parquet schema inference costs per call."""
        rounds = self.committed_rounds(table)
        if up_to_round is not None:
            rounds = [r for r in rounds if r <= up_to_round]
        if not rounds:
            return None
        paths = [self.round_path(table, r) for r in rounds]
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.parquet(*paths)

    def read_round(self, spark: SparkSession, table: str, round_no: int,
                   schema: str | None = None) -> DataFrame | None:
        if round_no not in self.committed_rounds(table):
            return None
        reader = spark.read.schema(schema) if schema else spark.read
        return reader.parquet(self.round_path(table, round_no))

    def drop_uncommitted(self) -> None:
        """Remove round directories not present in the manifest, and the
        emptied directory of a table the manifest no longer names (resume
        hygiene)."""
        manifest = self._read_manifest()
        for table_dir in self.root.iterdir():
            if not table_dir.is_dir():
                continue
            committed = set(manifest["tables"].get(table_dir.name, []))
            for round_dir in table_dir.glob("round=*"):
                r = int(round_dir.name.split("=", 1)[1])
                if r not in committed:
                    shutil.rmtree(round_dir)
            if (table_dir.name not in manifest["tables"]
                    and not any(table_dir.iterdir())):
                table_dir.rmdir()

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
