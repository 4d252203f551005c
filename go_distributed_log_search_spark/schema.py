"""YAML index-schema -> Spark StructType factory (the ``create`` command).

Reference: /root/reference/src/config/mod.go:145-273 parses per-field YAML
configs into typed FieldConfig impls; src/commands/create.go:49-53 registers
the config in the catalog. Example schema: example_config.yaml:1-99,
tests/config.yaml:1-66.

Mapping (SURVEY.md §1.2):

    text                  -> StringType (+ tokenizer tag for aggregation)
    number u64|i64        -> LongType   (u64 narrows; documented)
    number f64            -> DoubleType
    boolean               -> BooleanType
    datetime              -> TimestampType (+ ordered parse formats)
    ip                    -> StringType (canonical form)
    static_object         -> StructType (native nesting; no dot-flattening)
    dynamic_object        -> MapType(String, String)
    array: true wrapper   -> ArrayType(element)

Defaults preserved: ``stored`` forced true (config/mod.go:147-150);
number/boolean/datetime default stored+indexed (number.go:23-31 etc.);
arrays of static_object rejected at create time (create.go:28-40).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

try:
    import yaml  # type: ignore

    _HAVE_YAML = True
except Exception:  # pragma: no cover - sandbox has pyyaml, but gate anyway
    _HAVE_YAML = False

DEFAULT_DATETIME_FORMATS = ("date", "rfc3339", "timestamp")  # datetime.go:90-96


@dataclass
class FieldSpec:
    name: str
    type: str
    array: bool = False
    stored: bool = True          # forced true, config/mod.go:147-150
    indexed: bool = True
    fast: bool = False
    tokenizer: str = "default"   # text only, config/mod.go:53-58
    record: str = "basic"        # text only, config/text.go:7-11
    parse_string: bool = True    # number/boolean, field_parser.go:135-168
    formats: tuple[str, ...] = DEFAULT_DATETIME_FORMATS
    children: list["FieldSpec"] = field(default_factory=list)

    def spark_type(self) -> T.DataType:
        base = self._base_type()
        return T.ArrayType(base) if self.array else base

    def _base_type(self) -> T.DataType:
        t = self.type
        if t == "text":
            return T.StringType()
        if t == "number":
            return T.DoubleType() if self.subtype == "f64" else T.LongType()
        if t == "boolean":
            return T.BooleanType()
        if t == "datetime":
            return T.TimestampType()
        if t == "ip":
            return T.StringType()
        if t == "static_object":
            return T.StructType(
                [T.StructField(c.name, c.spark_type(), True) for c in self.children]
            )
        if t == "dynamic_object":
            return T.MapType(T.StringType(), T.StringType())
        raise ValueError(f"unknown field type: {t}")

    subtype: str = "f64"


@dataclass
class IndexSchema:
    name: str
    fields: list[FieldSpec]
    time_field: str | None = None  # config/mod.go:313-316

    def to_struct_type(self, with_dynamic: bool = True) -> T.StructType:
        cols = [T.StructField(f.name, f.spark_type(), True) for f in self.fields]
        if with_dynamic and not any(f.type == "dynamic_object" for f in self.fields):
            # dynamic catch-all field, commands/mod.go:23 + :149-158
            cols.append(
                T.StructField("_dynamic", T.MapType(T.StringType(), T.StringType()), True)
            )
        return T.StructType(cols)

    def text_field_paths(self) -> list[str]:
        """Dotted column paths of every indexed text field, INCLUDING
        static_object children (e.g. ``resource.service``). The reference
        scores every string field generically over flattened dotted names
        (search.go:225-243) — struct children participate in search with
        their LEAF name deciding the weight (``class``/``service`` +6)."""
        out: list[str] = []

        def walk(prefix: str, specs: list[FieldSpec]) -> None:
            for f in specs:
                path = f"{prefix}{f.name}"
                if f.type == "text" and f.indexed and not f.array:
                    out.append(path)
                elif f.type == "static_object":
                    walk(f"{path}.", f.children)

        walk("", self.fields)
        return out


def _parse_field(name: str, cfg: dict) -> FieldSpec:
    ftype = cfg.get("type", "text")
    array = bool(cfg.get("array", False))
    if array and ftype == "static_object":
        # create.go:28-40 rejects arrays of objects
        raise ValueError(f"field {name}: array of static_object is not supported")
    # the reference YAML nests tokenizer/record under `indexed:` when it is
    # a mapping (tests/config.yaml:9-12); a bare bool means indexed on/off.
    indexed_cfg = cfg.get("indexed", True)
    if isinstance(indexed_cfg, dict):
        tokenizer = indexed_cfg.get("tokenizer", cfg.get("tokenizer", "default"))
        record = indexed_cfg.get("record", cfg.get("record", "basic"))
        indexed = True
    else:
        tokenizer = cfg.get("tokenizer", "default")
        record = cfg.get("record", "basic")
        indexed = bool(indexed_cfg)
    # "keyword"/"position" appear in the reference's test configs; the Go
    # loader maps unknown tokenizer names to default (config/mod.go:62-73)
    # but the intent of keyword is clearly raw — honor the intent.
    if tokenizer == "keyword":
        tokenizer = "raw"
    spec = FieldSpec(
        name=name,
        type=ftype,
        array=array,
        stored=True,
        indexed=indexed,
        fast=bool(cfg.get("fast", False)),
        tokenizer=tokenizer,
        record=record,
        parse_string=bool(cfg.get("parse_string", True)),
    )
    if ftype == "number":
        spec.subtype = cfg.get("subtype", "f64")
        if spec.subtype not in ("u64", "i64", "f64"):
            raise ValueError(f"field {name}: bad number subtype {spec.subtype}")
    if ftype == "datetime":
        spec.formats = tuple(cfg.get("formats", DEFAULT_DATETIME_FORMATS))
    if ftype == "static_object":
        raw_children = cfg.get("fields") or {}
        if isinstance(raw_children, list):  # reference list-of-dicts form
            spec.children = [_parse_field(c["name"], c) for c in raw_children]
        else:
            spec.children = [_parse_field(cn, ccfg or {}) for cn, ccfg in raw_children.items()]
    return spec


def load_schema(yaml_text: str) -> IndexSchema:
    """Parse a YAML index config (reference example_config.yaml shape)."""
    if not _HAVE_YAML:
        raise RuntimeError("pyyaml unavailable")
    doc = yaml.safe_load(yaml_text)
    name = doc.get("name", "index")
    raw_fields = doc.get("schema", {}).get("fields", doc.get("fields", {}))
    if isinstance(raw_fields, list):  # list-of-dicts form
        items = [(f["name"], f) for f in raw_fields]
    else:
        items = list(raw_fields.items())
    fields = [_parse_field(n, cfg or {}) for n, cfg in items]
    time_field = doc.get("schema", {}).get("time_field", doc.get("time_field"))
    return IndexSchema(name=name, fields=fields, time_field=time_field)
