"""The staged KG-construction pipeline with checkpoint + idempotent resume.

Stage DAG (SURVEY.md §3 lifecycle):

  transcripts ──(0 reassemble)──► records ──(1 extract)──► extracted
      extracted ──split──► triples_raw + quarantine
      triples_raw ──(2 canonicalize)──► triples
      triples ──(3 optional expand)──► triples_expanded
      triples ──(4 optional transitive)──► + skos:broaderTransitive

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

    def _stage(self, name: str, build, partition_by=None,
               lineage_key=None) -> DataFrame:
        manifest = self.catalog.current_manifest(name)
        if (manifest is not None and not self.force and
                manifest.get("properties", {}).get("config_hash")
                == self.config_hash):
            self.stage_log.append((name, "resumed"))
            return self.catalog.read(name)
        df = build()
        self.catalog.write(name, df, partition_by=partition_by,
                           lineage_key=lineage_key,
                           properties={"config_hash": self.config_hash})
        self.stage_log.append((name, "ran"))
        return self.catalog.read(name)

    def run(self, transcripts: DataFrame) -> DataFrame:
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
        self._stage("quarantine",
                    lambda: quarantine_from_extracted(extracted),
                    lineage_key="record_id")
        self._stage("warnings",
                    lambda: warnings_from_extracted(extracted),
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
            from ..operators.validate import validation_warnings
            self._stage("validation_warnings",
                        lambda: validation_warnings(triples),
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
