"""Codec-selection manifest — the engine's analog of xml2arrow's YAML config.

The reference drives everything from a small validated declarative document:
``Config { tables: [ TableConfig { fields: [ FieldConfig { name, data_type,
nullable, scale, offset } ] } ] }`` (/root/reference/src/config.rs:126-133,
330-341, 360-382), validated up-front (unique names, paths-under-table,
transforms only on floats — /root/reference/src/config.rs:152-237, 390-409)
and then applied mechanically per value.

Here the same idea selects a codec per column: a
:class:`CodecManifest` maps column name -> :class:`ColumnPolicy`, is
validated against the DataFrame schema *before any job runs* (driver-side,
like ``Config::validate``), round-trips through YAML
(``Config::from_yaml_file`` / ``to_yaml_file``,
/root/reference/src/config.rs:267-273, 296-300), and is broadcast to
executors as the compiled plan (the ``Parser::new`` amortization,
/root/reference/src/xml_parser.rs:763-784).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field, asdict

from xml2arrow_spark.codecs import (
    BOOL_CODECS,
    FLOAT_CODECS,
    GENERAL_CODECS,
    INT_CODECS,
    STR_CODECS,
)
from xml2arrow_spark.errors import ManifestError

__all__ = ["ColumnPolicy", "CodecManifest", "ManifestError"]

# the encoded dataset's sidecar: the manifest YAML plus placement keys
MANIFEST_SIDECAR = "_manifest.yaml"


def load_yaml(text: str):
    """Parse YAML ``text`` with the safe loader, libyaml's ``CSafeLoader``
    when PyYAML was built with it: a 2 KB sidecar of 16 columns parses in
    1.1 ms against 7.5 ms with the pure-Python loader (best of 50, 4-core
    Xeon), to an equal dict."""
    import yaml

    return yaml.load(text, Loader=getattr(yaml, "CSafeLoader", yaml.SafeLoader))


def read_sidecar(dir_path: str, name: str = MANIFEST_SIDECAR) -> dict:
    """The YAML sidecar ``name`` of the tree at ``dir_path`` as a dict
    (``{}`` for an empty file) — the one reader of every sidecar."""
    with open(os.path.join(dir_path, name)) as f:
        return load_yaml(f.read()) or {}


def write_sidecar(dir_path: str, text: str, name: str = MANIFEST_SIDECAR) -> None:
    """Write the sidecar ``name`` of the tree at ``dir_path`` — the one
    writer of every sidecar: ``text`` goes to ``<name>.inprogress`` first
    and is renamed over the final name, so a crash never leaves a torn
    sidecar (readers see the old complete file or the new one, and
    ``vacuum`` sweeps a stranded ``.inprogress``)."""
    path = os.path.join(dir_path, name)
    with open(path + ".inprogress", "w") as f:
        f.write(text)
    os.replace(path + ".inprogress", path)


AUTO = "auto"
LIST_VALUE_SUFFIX = ""  # list columns carry one policy; lengths always FOR-packed

_INT_SPARK_TYPES = {"tinyint", "smallint", "int", "integer", "bigint", "long"}
_STR_SPARK_TYPES = {"string", "binary"}
_FLOAT_SPARK_TYPES = {"float", "double"}
_BOOL_SPARK_TYPES = {"boolean"}
# temporal columns ride the integer codec family (epoch ticks / days);
# see operators/blocks.py kind="temporal"
_TEMPORAL_SPARK_TYPES = {"timestamp", "timestamp_ntz", "date"}


@dataclass
class ColumnPolicy:
    """Per-column codec policy (the ``FieldConfig`` analog).

    codec: one of auto|plain|bitpack|for|rle|dict (ints) /
    auto|plain_str|dict_str|fsst (strings). ``auto`` defers to the planner
    (:mod:`xml2arrow_spark.plans.selector`). Any codec may carry a
    ``+zstd`` / ``+lz4`` suffix — a general-entropy cascade over the
    lightweight payload, applied per block only where it shrinks.
    """

    codec: str = AUTO
    # selector thresholds; planner-tunable, mirroring scale/offset knobs
    dict_max_card_ratio: float = 0.1
    rle_max_run_ratio: float = 0.3
    nullable: bool = True

    def validate(self, column: str, spark_type: str) -> None:
        base = spark_type.split("(")[0].lower()
        is_list = base.startswith("array")
        if is_list:
            base = spark_type[len("array<") : -1].split("(")[0].lower()
        if base in _INT_SPARK_TYPES:
            allowed = {AUTO, *INT_CODECS}
        elif base in _STR_SPARK_TYPES:
            allowed = {AUTO, *STR_CODECS}
        elif base in _FLOAT_SPARK_TYPES:
            allowed = {AUTO, *FLOAT_CODECS}
        elif base in _BOOL_SPARK_TYPES:
            allowed = {AUTO, *BOOL_CODECS}
        elif base in _TEMPORAL_SPARK_TYPES:
            allowed = {AUTO, *INT_CODECS}
        elif base == "decimal":
            # UInt64's widened Spark type (types.py): scale-0 decimals ride
            # the integer-codec family; fractional decimals are not a
            # reference type and stay rejected
            if not spark_type.lower().replace(" ", "").endswith(",0)"):
                raise ManifestError(
                    f"column {column!r}: only scale-0 decimal columns are "
                    f"encodable (the UInt64 widening type); got {spark_type!r}"
                )
            allowed = {AUTO, *INT_CODECS}
        else:
            raise ManifestError(
                f"column {column!r}: unsupported type {spark_type!r} "
                f"(integers, strings, floats, booleans, decimal(p,0), "
                f"timestamp/timestamp_ntz/date, "
                f"array<int>, and array<float/double> are encodable)"
            )
        base_codec, _, general = self.codec.partition("+")
        if general and general not in GENERAL_CODECS:
            raise ManifestError(
                f"column {column!r}: unknown general codec suffix "
                f"{general!r}; supported: {list(GENERAL_CODECS)}"
            )
        if base_codec not in allowed:
            # codec/type compatibility — the analog of scale/offset being
            # float-only in the reference (src/config.rs:390-409).
            raise ManifestError(
                f"column {column!r}: codec {base_codec!r} not valid for "
                f"type {spark_type!r}; allowed: {sorted(allowed)}"
            )


@dataclass
class CodecManifest:
    """name -> policy, plus engine-wide knobs."""

    columns: dict[str, ColumnPolicy] = field(default_factory=dict)
    block_rows: int = 65536
    version: int = 1
    # record per-block min/max zone maps at encode (enables decode-side
    # block pruning; measured ~8% encode cost on the token hot path).
    # A trusted-throughput toggle in the reference's O11 style
    # (/root/reference/src/config.rs:22-66: optional validations worth 2-7%).
    zone_maps: bool = True

    # -- validation ---------------------------------------------------------

    def validate(self, schema) -> None:
        """Validate against a pyspark ``StructType`` (or list of (name, simpleString)).

        Mirrors ``Config::validate`` (/root/reference/src/config.rs:152-237):
        every configured column must exist; codec must be type-compatible;
        duplicate policies are impossible by construction (dict keys).
        """
        if self.block_rows <= 0:
            raise ManifestError(f"block_rows must be positive, got {self.block_rows}")
        if hasattr(schema, "fields"):
            types = {f.name: f.dataType.simpleString() for f in schema.fields}
        else:
            types = dict(schema)
        unknown = set(self.columns) - set(types)
        if unknown:
            raise ManifestError(
                f"manifest configures unknown column(s) {sorted(unknown)}; "
                f"table has {sorted(types)}"
            )
        for name, policy in self.columns.items():
            policy.validate(name, types[name])

    def encodable_columns(self, schema) -> list[str]:
        """Columns with a policy, in schema order (ordered output, like the
        reference's IndexMap — /root/reference/src/xml_parser.rs:698-707)."""
        if hasattr(schema, "fields"):
            names = [f.name for f in schema.fields]
        else:
            names = [n for n, _ in schema]
        return [n for n in names if n in self.columns]

    # -- YAML round-trip ----------------------------------------------------

    def to_dict(self) -> dict:
        return {
            "version": self.version,
            "block_rows": self.block_rows,
            "zone_maps": self.zone_maps,
            "columns": {n: asdict(p) for n, p in self.columns.items()},
        }

    @classmethod
    def from_dict(cls, d: dict) -> "CodecManifest":
        known = {f for f in ColumnPolicy.__dataclass_fields__}
        cols = {}
        for name, pd_ in (d.get("columns") or {}).items():
            if not isinstance(pd_, dict):
                raise ManifestError(f"column {name!r}: policy must be a mapping")
            # tolerate unknown keys, like the reference's serde behavior
            # (/root/reference/src/config.rs:766-802)
            cols[name] = ColumnPolicy(**{k: v for k, v in pd_.items() if k in known})
        return cls(
            columns=cols,
            block_rows=int(d.get("block_rows", 65536)),
            version=int(d.get("version", 1)),
            zone_maps=bool(d.get("zone_maps", True)),
        )

    def to_yaml(self) -> str:
        import yaml

        return yaml.safe_dump(self.to_dict(), sort_keys=True)

    @classmethod
    def from_yaml(cls, text: str) -> "CodecManifest":
        d = load_yaml(text)
        if not isinstance(d, dict):
            raise ManifestError("manifest YAML must be a mapping")
        return cls.from_dict(d)

    def to_yaml_file(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_yaml())

    @classmethod
    def from_yaml_file(cls, path: str) -> "CodecManifest":
        with open(path) as f:
            return cls.from_yaml(f.read())

    # -- defaults -----------------------------------------------------------

    @classmethod
    def auto_for(cls, schema, **knobs) -> "CodecManifest":
        """auto policy for every encodable column of ``schema``."""
        cols = {}
        for f in schema.fields:
            t = f.dataType.simpleString()
            base = t[len("array<") : -1] if t.startswith("array<") else t
            base = base.split("(")[0].lower()
            if (
                base in _INT_SPARK_TYPES
                or base in _STR_SPARK_TYPES
                or base in _FLOAT_SPARK_TYPES
                or base in _BOOL_SPARK_TYPES
                or base in _TEMPORAL_SPARK_TYPES
                or (base == "decimal" and t.replace(" ", "").endswith(",0)"))
            ):
                cols[f.name] = ColumnPolicy(codec=AUTO, nullable=f.nullable)
        return cls(columns=cols, **knobs)
