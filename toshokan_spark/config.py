"""Index configuration: the YAML schema language -> Spark StructType.

Replicates the semantics (not the serde syntax) of the reference's
config system (`/root/reference/src/config/mod.rs:92-244` and the
per-type modules under `src/config/`):

* field types: text, number(u64|i64|f64), boolean, datetime, ip,
  static_object (recursive), dynamic_object
* an ``array: true`` modifier on any field (mod.rs:125-126)
* ``array: true`` on a static_object is rejected at create time
  (`src/commands/create.rs:15-22`)
* every input key not claimed by a schema field lands in a built-in
  catch-all ``_dynamic`` field (`src/commands/mod.rs:38-51`)

Where the reference flattens nested static objects to dotted names
with ``\\.`` escaping (`src/config/mod.rs:147-162`) we keep native
Spark ``StructType`` nesting — the flattening machinery exists there
only because tantivy has no struct type.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Optional

from pyspark.sql import types as T

try:
    import yaml  # pyyaml may or may not be present in the container

    _HAVE_YAML = True
except Exception:  # pragma: no cover
    _HAVE_YAML = False

DYNAMIC_FIELD_NAME = "_dynamic"

VALID_TYPES = {
    "text",
    "number",
    "boolean",
    "datetime",
    "ip",
    "static_object",
    "dynamic_object",
}

#: tantivy tokenizer names supported by the reference
#: (`src/config/mod.rs:61-90`)
VALID_TOKENIZERS = {"default", "raw", "en_stem", "whitespace"}

#: datetime formats (`src/config/datetime.rs:50-55`); tried in declared
#: order (`datetime.rs:107-122`)
VALID_DATETIME_FORMATS = {"rfc3339", "iso8601", "rfc2822", "timestamp"}


class ConfigError(ValueError):
    pass


@dataclass
class FieldConfig:
    """One schema field. Option defaults mirror the reference:

    text:     stored=True, fast=False, indexed=True, tokenizer='default'
              (`src/config/text.rs:41-55`)
    number:   number_type='i64', stored=True, indexed=True,
              parse_string=True (`src/config/number.rs:8-30`)
    boolean:  stored=True, indexed=True, parse_string=True
              (`src/config/boolean.rs:7-19`)
    datetime: stored=True, indexed=True, formats=[rfc3339, timestamp]
              (`src/config/datetime.rs:150-163`)
    ip:       stored=True, indexed=True (`src/config/ip.rs:7-16`)
    dynamic_object: indexed, raw tokenizer, expand_dots
              (`src/config/dynamic_object.rs:28-45`)
    """

    name: str
    type: str
    array: bool = False
    stored: bool = True
    indexed: bool = True
    fast: bool = False
    #: None -> per-type default: 'default' for text, 'raw' for
    #: dynamic_object (`src/config/dynamic_object.rs:28-45`)
    tokenizer: Optional[str] = None
    number_type: str = "i64"  # u64 | i64 | f64
    parse_string: bool = True
    #: scalar NUMBER fields only: record a fixed-width floor-keyed
    #: histogram of this bin width in the manifest at every segment
    #: commit. Bins are exact counts and combine additively across
    #: segments/merges, so a match-all ``--histogram-field`` at this
    #: exact width answers from the manifest with ZERO data scans
    #: (the histogram twin of ``field_sums`` — the Delta/Iceberg
    #: file-statistics pattern extended to distributions). None =
    #: don't record.
    histogram_bin: Optional[float] = None
    formats: list[str] = dc_field(default_factory=lambda: ["rfc3339", "timestamp"])
    fields: list["FieldConfig"] = dc_field(default_factory=list)  # static_object

    def __post_init__(self) -> None:
        if self.type not in VALID_TYPES:
            raise ConfigError(f"unknown field type {self.type!r} for field {self.name!r}")
        if self.type == "static_object" and self.array:
            # `src/commands/create.rs:15-22`: "array of static objects
            # are currently unsupported" — same validation here.
            raise ConfigError(
                f"field {self.name!r}: array of static_object is unsupported"
            )
        if self.tokenizer is None:
            self.tokenizer = "raw" if self.type == "dynamic_object" else "default"
        if self.type in ("text", "dynamic_object") and self.tokenizer not in VALID_TOKENIZERS:
            raise ConfigError(f"unknown tokenizer {self.tokenizer!r}")
        if self.type == "number" and self.number_type not in {"u64", "i64", "f64"}:
            raise ConfigError(f"unknown number type {self.number_type!r}")
        if self.type == "datetime":
            bad = set(self.formats) - VALID_DATETIME_FORMATS
            if bad:
                raise ConfigError(f"unknown datetime formats {bad}")
        if self.type == "static_object" and not self.fields:
            raise ConfigError(f"static_object field {self.name!r} needs nested fields")

    # ---- Spark type mapping (SURVEY §1.3) -------------------------------
    def spark_type(self) -> T.DataType:
        if self.type == "text":
            inner: T.DataType = T.StringType()
        elif self.type == "number":
            # u64 -> decimal(20,0): the reference accepts the FULL u64
            # range (`src/config/number.rs:8-14`, parse::<u64>), and
            # values in [2^63, 2^64) overflow LongType; decimal(20,0)
            # holds 2^64-1 exactly (SURVEY §1.3)
            if self.number_type == "f64":
                inner = T.DoubleType()
            elif self.number_type == "u64":
                inner = T.DecimalType(20, 0)
            else:
                inner = T.LongType()
        elif self.type == "boolean":
            inner = T.BooleanType()
        elif self.type == "datetime":
            inner = T.TimestampType()
        elif self.type == "ip":
            # normalized display string; a numeric sort key column is
            # derived at ingest (see ingest.py / functions/ip.py)
            inner = T.StringType()
        elif self.type == "static_object":
            inner = T.StructType(
                [T.StructField(f.name, f.spark_type(), True) for f in self.fields]
            )
        elif self.type == "dynamic_object":
            # arbitrary JSON subtree, path-addressable via map lookup
            inner = T.MapType(T.StringType(), T.StringType())
        else:  # pragma: no cover
            raise AssertionError(self.type)
        return T.ArrayType(inner) if self.array else inner

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "FieldConfig":
        d = dict(d)
        if "fields" in d:
            d["fields"] = [cls.from_dict(f) for f in d["fields"]]
        known = {
            "name", "type", "array", "stored", "indexed", "fast", "tokenizer",
            "number_type", "parse_string", "formats", "fields",
            "histogram_bin",
        }
        unknown = set(d) - known
        if unknown:
            raise ConfigError(f"unknown field options {unknown}")
        return cls(**d)

    def to_dict(self) -> dict[str, Any]:
        out: dict[str, Any] = {"name": self.name, "type": self.type}
        if self.array:
            out["array"] = True
        if self.type in ("text", "dynamic_object"):
            out["tokenizer"] = self.tokenizer
        if self.type == "number":
            out["number_type"] = self.number_type
            out["parse_string"] = self.parse_string
            if self.histogram_bin is not None:
                out["histogram_bin"] = self.histogram_bin
        if self.type == "boolean":
            out["parse_string"] = self.parse_string
        if self.type == "datetime":
            out["formats"] = list(self.formats)
        if not self.indexed:
            out["indexed"] = False
        if self.fast:
            out["fast"] = True
        if self.type == "static_object":
            out["fields"] = [f.to_dict() for f in self.fields]
        return out


@dataclass
class IndexConfig:
    """An index (≈ table): name + storage path + schema
    (`src/config/mod.rs:234-244`). ``time_field`` is dead config in the
    reference (never read — verified by grep, SURVEY §1.1); here it is
    *live*: each segment records its day range and sorts its rows by
    the field, so time-bounded queries prune whole segments at the
    manifest and row groups inside the files they keep.
    """

    name: str
    path: str
    fields: list[FieldConfig]
    time_field: Optional[str] = None
    version: int = 1

    def __post_init__(self) -> None:
        names = [f.name for f in self.fields]
        if len(names) != len(set(names)):
            raise ConfigError("duplicate field names")
        if any(f.name == DYNAMIC_FIELD_NAME for f in self.fields):
            raise ConfigError(f"{DYNAMIC_FIELD_NAME} is reserved")

    def field(self, name: str) -> Optional[FieldConfig]:
        for f in self.fields:
            if f.name == name:
                return f
        return None

    def spark_schema(self, include_dynamic: bool = True) -> T.StructType:
        """Storage schema: declared fields (in declared order) plus the
        ``_dynamic`` remainder map (`src/commands/mod.rs:38-51`)."""
        sfields = [T.StructField(f.name, f.spark_type(), True) for f in self.fields]
        if include_dynamic:
            sfields.append(
                T.StructField(
                    DYNAMIC_FIELD_NAME, T.MapType(T.StringType(), T.StringType()), True
                )
            )
        return T.StructType(sfields)

    # -- (de)serialization -------------------------------------------------
    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "IndexConfig":
        schema = d.get("schema", {})
        fields = [FieldConfig.from_dict(f) for f in schema.get("fields", [])]
        return cls(
            name=d["name"],
            path=d.get("path", ""),
            fields=fields,
            time_field=schema.get("time_field") or d.get("time_field"),
            version=d.get("version", 1),
        )

    def to_dict(self) -> dict[str, Any]:
        return {
            "version": self.version,
            "name": self.name,
            "path": self.path,
            "time_field": self.time_field,
            "schema": {"fields": [f.to_dict() for f in self.fields]},
        }

    @classmethod
    def from_yaml(cls, text: str) -> "IndexConfig":
        if not _HAVE_YAML:  # pragma: no cover
            raise RuntimeError("pyyaml not available; use from_dict")
        return cls.from_dict(yaml.safe_load(text))
