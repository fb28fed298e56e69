"""Typed engine configuration — the ``cdm.properties`` analog.

Reference: CDM's entire job surface is driven by ``spark.cdm.*``
properties enumerated in
``src/main/java/com/datastax/cdm/properties/KnownProperties.java:26-498``
with defaults in ``src/resources/cdm-detailed.properties``. This module
re-expresses the knobs that survive the Spark-first re-design as a
dataclass; anything Catalyst already handles (fetch size, async flush
thresholds, rate limiters) is intentionally absent.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields


@dataclass
class EngineConfig:
    # --- partitioning (SplitPartitions.java:32-76; KnownProperties.java:177-178)
    num_partitions: int = 32          # key-hash partitions of the change stream
    num_buckets: int = 64             # lake-table hash buckets (bucket(url))
    coverage_percent: int = 100       # sampled validation (KnownProperties.java:238)
    salt_buckets: int = 8             # hot-key salting factor for the dedup shuffle
    skew_min_rows: int = 10_000       # auto LWW: a key is "hot" only past this absolute
                                      # count (salting tiny epochs costs more than it saves)

    # --- batching (micro-batch epochs; CopyJobSession.java:150-218 analog)
    epoch_size: int = 100_000         # events per batch_epoch the WAL writer makes, and
                                      # ingest's group budget: fresh epochs commit together
                                      # while their rows sum to at most this

    # --- LWW semantics (WritetimeTTL.java:235-258, PKFactory.java:106-133)
    key_col: str = "url"
    ts_col: str = "warc_ts"
    seq_col: str = "seq"              # tie-break (writetimeIncrement analog, WritetimeTTL.java:244)
    op_col: str = "op"
    ttl_col: str = ""                 # row TTL in seconds ("" = disabled); USING TTL analog
                                      # (TargetInsertStatement.java:128, WritetimeTTL.java:260-281)

    # --- filters (OriginSelectStatement.java:104-131)
    min_token: int | None = None              # token-range restriction of the run
    max_token: int | None = None              # (partition.min/max params, README.md:181-184)
    where_condition: str | None = None        # user filter (OriginFilterCondition.java:54-76)
    min_ts: str | None = None                 # writetime-range filter lo
    max_ts: str | None = None                 # writetime-range filter hi
    filter_column: str | None = None          # column-value skip filter
    filter_value: str | None = None

    # --- guardrail (Guardrail.java:88-125; KnownProperties.java col size)
    guardrail_col_size_kb: int = 0            # 0 = disabled

    # --- run tracking (TargetUpsertRunDetailsStatement.java:63-66)
    track_run: bool = True
    run_id: int = 1
    prev_run_id: int = 0

    # --- auto-correct (DiffJobSession autocorrect; README.md:129-131)
    autocorrect_missing: bool = False
    autocorrect_mismatch: bool = False

    # --- paths
    lake_path: str = ""
    lineage_path: str = ""
    changelog_path: str = ""

    extra: dict = field(default_factory=dict)

    @classmethod
    def from_dict(cls, d: dict) -> "EngineConfig":
        known = {f.name for f in fields(cls)}
        kw = {k: v for k, v in d.items() if k in known}
        rest = {k: v for k, v in d.items() if k not in known}
        cfg = cls(**kw)
        cfg.extra.update(rest)
        return cfg

    @classmethod
    def from_properties(cls, path: str) -> "EngineConfig":
        """Load a CDM-style ``cdm.properties`` file.

        The official ``spark.cdm.*`` keys (KnownProperties.java:26-498,
        src/resources/cdm-detailed.properties) that survive the
        Spark-first re-design map onto dataclass fields via
        ``PROPERTY_MAP``; every other ``spark.cdm.*`` key is preserved
        verbatim in ``extra`` (never an error — a CDM user's existing
        file should load as-is). Values are coerced to the target
        field's type; native field names are accepted too."""
        props: dict[str, str] = {}
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line or line.startswith(("#", "!")):
                    continue
                if "=" in line:
                    k, _, v = line.partition("=")
                elif ":" in line:
                    k, _, v = line.partition(":")
                else:
                    continue
                props[k.strip()] = v.strip()

        types = {f.name: f.type for f in fields(cls)}

        def coerce(field_name: str, raw: str):
            t = str(types.get(field_name, "str"))
            if t.startswith("bool"):
                return raw.lower() in ("true", "1", "yes")
            if t.startswith("int"):
                return int(raw)
            return raw

        d: dict = {}
        for key, raw in props.items():
            field_name = PROPERTY_MAP.get(key, key if key in types else None)
            if field_name is None:
                d[key] = raw       # preserved in extra by from_dict
            else:
                d[field_name] = coerce(field_name, raw)
        return cls.from_dict(d)


# spark.cdm.* -> EngineConfig field (KnownProperties.java:26-498).
# Connection/TLS/consistency/rate-limit keys have no analog here (no
# Cassandra driver; Catalyst owns fetch/batch sizing) and land in
# ``extra`` untouched.
PROPERTY_MAP: dict[str, str] = {
    "spark.cdm.perfops.numParts": "num_partitions",
    "spark.cdm.filter.cassandra.partition.min": "min_token",
    "spark.cdm.filter.cassandra.partition.max": "max_token",
    "spark.cdm.filter.cassandra.whereCondition": "where_condition",
    "spark.cdm.filter.java.token.percent": "coverage_percent",
    "spark.cdm.filter.java.writetime.min": "min_ts",
    "spark.cdm.filter.java.writetime.max": "max_ts",
    "spark.cdm.filter.java.column.name": "filter_column",
    "spark.cdm.filter.java.column.value": "filter_value",
    "spark.cdm.feature.guardrail.colSizeInKB": "guardrail_col_size_kb",
    "spark.cdm.trackRun": "track_run",
    "spark.cdm.trackRun.runId": "run_id",
    "spark.cdm.trackRun.previousRunId": "prev_run_id",
    "spark.cdm.autocorrect.missing": "autocorrect_missing",
    "spark.cdm.autocorrect.mismatch": "autocorrect_mismatch",
    "spark.cdm.schema.origin.column.ttl.names": "ttl_col",
}
