"""The staged KG-construction pipeline with checkpoint + idempotent resume.

Stage DAG (SURVEY.md §3 lifecycle).  The main chain commits in order on
the caller's thread; the side outputs (*), tables nothing downstream
reads, commit on their own threads beside it, and ``run`` joins them:

  transcripts ──(0 reassemble)──► records ──(1 extract)──► extracted
      extracted ──split──► triples_raw, quarantine*, warnings*
      triples_raw ──(2 canonicalize)──► triples_canonical
          ──(3 optional expand)──► triples_expanded
          ──(4 optional transitive)──► triples_transitive
                                       (+ skos:broaderTransitive)
          ──(5 publish)──► triples, partitioned by pred_key
      the step-5 input ──(optional validate)──► validation_warnings*
          (with transitive on, its broader cycles are the diagonal of
          the step-4 closure: the edges are closed once per build)

Every stage commits its output to the Icebergish catalog; on re-run a
stage whose snapshot is already committed *with the same pipeline
configuration* is skipped and its table read back (resume = manifest
presence + config-fingerprint match: a run with different flags must
NOT silently serve snapshots produced under the old flags).  A kill
between data write and manifest commit leaves the stage uncommitted →
it reruns and overwrites the orphan snapshot dir, giving byte-identical
results (BASELINE.md resume-idempotence row).  The fingerprint cannot
see the INPUT data — reuse a warehouse only for the same input, or pass
``force=True`` to rerun everything.
"""

from __future__ import annotations

import hashlib
import json
from functools import partial

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession

from ..operators.canonicalize import canonical_mapping, rewrite_canonical
from ..operators.closure import broader_transitive
from ..operators.expand import expand_inferred
from ..operators.extract import (extract_triples, quarantine_from_extracted,
                                 triples_from_extracted,
                                 warnings_from_extracted)
from ..sinks.icebergish import IcebergishCatalog
from ..sinks.serializers import with_pred_key
from ..sources.transcripts import reassemble_records


class KgPipeline:

    def __init__(self, spark: SparkSession, warehouse: str,
                 options: dict | None = None,
                 default_scheme: str | None = None,
                 expand: bool = False,
                 transitive: bool = False,
                 canonicalize: bool = True,
                 block_size: int | None = None,
                 validate: bool = False,
                 max_ident_freq: int | None = None,
                 force: bool = False):
        self.spark = spark
        self.catalog = IcebergishCatalog(warehouse, spark)
        self.options = dict(options or {})
        self.default_scheme = default_scheme
        self.expand = expand
        self.transitive = transitive
        self.canonicalize = canonicalize
        self.block_size = block_size
        self.validate = validate
        self.max_ident_freq = max_ident_freq
        self.force = force
        self.stage_log: list[tuple[str, str]] = []  # (stage, ran|resumed)
        self.config_hash = hashlib.sha256(json.dumps({
            "options": sorted(self.options.items()),
            "default_scheme": default_scheme,
            "expand": expand, "transitive": transitive,
            "canonicalize": canonicalize, "block_size": block_size,
            "validate": validate, "max_ident_freq": max_ident_freq,
        }, sort_keys=True).encode()).hexdigest()[:16]

    def _commit(self, name: str, build, partition_by=None,
                lineage_key=None) -> str:
        """Commit stage ``name`` unless its snapshot is already committed
        under this configuration: ``"ran"`` or ``"resumed"``."""
        manifest = self.catalog.current_manifest(name)
        if (manifest is not None and not self.force and
                manifest.get("properties", {}).get("config_hash")
                == self.config_hash):
            return "resumed"
        self.catalog.write(name, build(), partition_by=partition_by,
                           lineage_key=lineage_key,
                           properties={"config_hash": self.config_hash})
        return "ran"

    def _stage(self, name: str, build, partition_by=None,
               lineage_key=None) -> DataFrame:
        self.stage_log.append(
            (name, self._commit(name, build, partition_by, lineage_key)))
        return self.catalog.read(name)

    def run(self, transcripts: DataFrame) -> DataFrame:
        """Run (or resume) every stage; returns the published triples.

        The main chain commits on the caller's thread.  A side stage —
        a table nothing downstream reads — starts on its own thread as
        soon as its input is committed, and ``run`` joins every side
        stage before it returns, re-raising the first side-stage error
        in program order.  A side thread is an ``InheritableThread``: it
        carries the caller's Spark local properties (job group,
        scheduler pool), so ``cancelJobGroup`` and per-group job
        accounting cover its jobs, and it ends with its stage, which
        releases its JVM thread."""
        threads: list[InheritableThread] = []
        errors: dict[int, BaseException] = {}

        def side_stage(name, build, lineage_key):
            slot = len(self.stage_log)   # reserved: program order
            self.stage_log.append((name, ""))

            def commit():
                try:
                    self.stage_log[slot] = (
                        name, self._commit(name, build, None, lineage_key))
                except BaseException as exc:  # re-raised after the join
                    errors[slot] = exc

            thread = InheritableThread(commit, session=self.spark)
            thread.start()
            threads.append(thread)

        try:
            published = self._chain(transcripts, side_stage)
        finally:
            for thread in threads:
                thread.join()
            # a side stage that raised leaves no log entry
            self.stage_log[:] = [e for e in self.stage_log if e[1]]
        if errors:
            raise errors[min(errors)]
        return published

    def _chain(self, transcripts: DataFrame, side_stage) -> DataFrame:
        records = self._stage(
            "records",
            lambda: reassemble_records(transcripts,
                                       block_size=self.block_size),
            lineage_key="record_id")

        extracted = self._stage(
            "extracted",
            lambda: extract_triples(records, self.options,
                                    self.default_scheme),
            partition_by=["row_kind"], lineage_key="record_id")

        triples = self._stage(
            "triples_raw", lambda: triples_from_extracted(extracted),
            lineage_key="subj")
        side_stage("quarantine",
                   partial(quarantine_from_extracted, extracted),
                   lineage_key="record_id")
        side_stage("warnings", partial(warnings_from_extracted, extracted),
                   lineage_key="record_id")

        if self.canonicalize:
            triples = self._stage(
                "triples_canonical",
                lambda: rewrite_canonical(
                    triples,
                    canonical_mapping(
                        triples, max_ident_freq=self.max_ident_freq)),
                lineage_key="subj")

        if self.expand:
            triples = self._stage(
                "triples_expanded", lambda: expand_inferred(triples),
                lineage_key="subj")

        if self.transitive:
            # skosify transitive=True analog (examples/skosify.cfg:3):
            # materialize skos:broaderTransitive via the doubling loop
            triples = self._stage(
                "triples_transitive",
                lambda: triples.unionByName(broader_transitive(triples)),
                lineage_key="subj")

        if self.validate:
            # skosify check-pass analog (reference runs skosify AFTER
            # expand, mc2skos.py:198-201): cycle + label reports into
            # their own committed warnings table; triples unchanged
            # (repair is the converter's opt-in, not the pipeline's)
            # with transitive on, triples already holds the broader
            # closure: its diagonal gives the cycles (no second closure)
            from ..operators.validate import validation_warnings
            side_stage("validation_warnings",
                       partial(validation_warnings, triples,
                               closed=self.transitive),
                       lineage_key="record_id")

        # S6: the published triple store, partitioned by predicate key:
        # a read that filters on pred_key prunes at the directory level
        # (PartitionFilters in the scan — test_scale_paths).  The frame
        # returned here drops pred_key, so a filter on pred alone reads
        # every file.
        published = self._stage(
            "triples", lambda: with_pred_key(triples),
            partition_by=["pred_key"], lineage_key="subj")
        return published.drop("pred_key")
