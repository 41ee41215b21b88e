"""Declarative pipeline specs + YAML front-end.

The reference's config surface is a declarative YAML (sequin.yaml) of
databases / sinks / functions with plan/apply semantics
(lib/sequin/transforms/transforms.ex, lib/sequin/yaml_loader.ex,
POST /api/config/{plan,apply}). Our spec carries the same resource
vocabulary mapped onto Spark constructs; ``plan()`` reports what would
be created (validation errors surface here, before any cluster work).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace

from sequin_spark.functions.minipy import validate as minipy_validate
from sequin_spark.functions.routing import ROUTING_SCHEMAS
from sequin_spark.operators.column_filter import OPERATORS
from sequin_spark.operators.source_filter import Source
from sequin_spark.sinks.base import SINK_REGISTRY

# a bare identifier in a transform/filter/enrichment position is a
# *reference* to a named function, not inline code (transforms.ex:903-931
# parse_function_id: consumers carry function names; the functions
# themselves hold the code)
_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_-]*$")
_TRANSFORM_KEYWORDS = ("default", "record_only", "none")

FUNCTION_TYPES = ("transform", "filter", "routing", "path", "enrichment")


@dataclass
class FunctionSpec:
    """One named function (functions table, consumers/function.ex;
    YAML surface yaml_loader.ex:1051-1127 upsert_functions /
    coerce_function_attrs: flat {name,type,code} or nested
    {name, function: {type, code}}, legacy aliases ``transforms:`` for
    the section and type ``function`` → ``transform``)."""

    name: str
    type: str = "transform"
    code: str = ""
    description: str | None = None

    def validate(self) -> list[str]:
        errs = []
        if not self.name:
            errs.append("`name` is required on functions.")
        if self.type not in FUNCTION_TYPES:
            errs.append(f"unknown function type {self.type!r}")
        if self.type in ("transform", "filter", "routing"):
            ok, err = minipy_validate(self.code)
            if not ok:
                errs.append(f"{self.type}: {err}")
        elif self.type == "path" and not self.code.strip():
            errs.append("path functions need a non-empty path")
        elif self.type == "enrichment" and "$1" not in self.code:
            # validate_sql_has_parameterization (yaml_loader.ex:1164-1180)
            errs.append(
                "Enrichment functions must use parameterization ($1).")
        return errs


def function_from_dict(d: dict) -> FunctionSpec:
    """coerce_function_attrs (yaml_loader.ex:1129-1162): nested
    ``function:``/legacy ``transform:`` inner dict or flat fields;
    ``file:`` keys must be inlined by the CLI before submission
    (yaml_loader.ex:1076-1082 rejects them server-side)."""
    d = dict(d)
    if "file" in d:
        raise ValueError(
            "`file` is not supported over the API — the CLI inlines "
            "function files before submitting (config.go:234-258)")
    if "function" in d and "transform" in d:
        raise ValueError("Cannot specify both `function` and `transform`")
    inner = d.pop("function", None) or d.pop("transform", None) or {}
    merged = {**inner, **{k: v for k, v in d.items()
                          if k in ("name", "type", "code", "description")}}
    ftype = inner.get("type") or merged.get("type") or "transform"
    if ftype == "function":  # coerce_type_to_transform
        ftype = "transform"
    return FunctionSpec(
        name=merged.get("name") or "",
        type=ftype,
        code=inner.get("code", merged.get("code", "") or ""),
        description=merged.get("description"),
    )


def function_to_external(fn: FunctionSpec) -> dict:
    out: dict = {"name": fn.name, "type": fn.type, "code": fn.code}
    if fn.description:
        out["description"] = fn.description
    return out


def is_function_ref(value: str | None) -> bool:
    """True when the value is a bare name referencing a declared
    function rather than inline code / a builtin keyword."""
    return (
        isinstance(value, str)
        and value not in _TRANSFORM_KEYWORDS
        and not value.startswith("path:")
        and bool(_NAME_RE.fullmatch(value))
    )


# which function types may sit in each consumer field
# (yaml_loader.ex:933 "routing_id must reference a function with type
# 'routing'" and the matching per-field FK constraints)
_FIELD_TYPES = {
    "transform": ("transform", "path"),
    "filter": ("filter",),
    "enrichment": ("enrichment",),
    "routing": ("routing",),
}


def routing_dict_sources(code: str) -> dict[str, str]:
    """Split a routing function's dict-literal body into per-key MiniPy
    sources (the reference's routing function returns a map of routing
    keys, routing.ex:105-135; each value compiles independently so
    ``route()`` can merge it over the sink's defaults)."""
    import ast

    try:
        tree = ast.parse(code.strip(), mode="eval")
    except SyntaxError as e:
        raise ValueError(f"routing: {e.msg}") from None
    node = tree.body
    if not isinstance(node, ast.Dict):
        raise ValueError(
            "routing functions must be a dict literal of routing keys, "
            'e.g. {"topic": record["region"]}')
    out = {}
    for k, v in zip(node.keys, node.values):
        if not (isinstance(k, ast.Constant) and isinstance(k.value, str)):
            raise ValueError("routing dict keys must be string literals")
        seg = ast.get_source_segment(code.strip(), v)
        if seg is None:
            raise ValueError(f"routing: cannot extract value for {k.value!r}")
        out[k.value] = seg
    return out


def check_references(consumers: list["ConsumerSpec"],
                     functions: dict[str, FunctionSpec]) -> dict[str, list[str]]:
    """Name-resolution errors per consumer (parse_function_id:
    'Function X not found.'; type mismatches per the FK constraints)."""
    errors: dict[str, list[str]] = {}
    for c in consumers:
        errs = []
        for fld in ("transform", "filter", "enrichment", "routing"):
            value = getattr(c, fld, None)
            if not is_function_ref(value):
                continue
            fn = functions.get(value)
            if fn is None:
                errs.append(f"Function '{value}' not found.")
            elif fn.type not in _FIELD_TYPES[fld]:
                errs.append(
                    f"{fld} must reference a function with type "
                    f"{' or '.join(map(repr, _FIELD_TYPES[fld]))}, "
                    f"'{value}' is {fn.type!r}")
        if errs:
            errors[c.name] = errs
    return errors


def resolve_consumer(spec: "ConsumerSpec",
                     functions: dict[str, FunctionSpec]) -> "ConsumerSpec":
    """Copy with named-function references replaced by their code so the
    runtime (streaming/pipeline.py) sees inline expressions — the analog
    of the reference joining consumers to functions by *_id at load."""
    updates: dict = {}
    for fld in ("transform", "filter", "enrichment", "routing"):
        value = getattr(spec, fld, None)
        if value == "none":
            updates[fld] = None
        elif is_function_ref(value) and value in functions:
            fn = functions[value]
            updates[fld] = (f"path:{fn.code}" if fn.type == "path"
                            else fn.code)
    return replace(spec, **updates) if updates else spec


@dataclass
class ConsumerSpec:
    """One sink consumer = one standing query (sink_consumer.ex:39-147)."""

    name: str
    sink_type: str = "benchmark"
    sink_config: dict = field(default_factory=dict)
    source: Source | None = None
    actions: list[str] = field(default_factory=lambda: ["insert", "update", "delete"])
    column_filters: list[dict] = field(default_factory=list)
    filter: str | None = None            # MiniPy predicate | function name
    transform: str | None = None         # default | record_only | path:... | MiniPy | function name
    enrichment: str | None = None        # SQL ($1-parameterized) | function name
    routing: str | None = None           # MiniPy dict literal | function name
    routing_overrides: dict[str, str] = field(default_factory=dict)  # key → MiniPy
    batch_size: int | None = None
    partition_count: int = 8
    max_retry_count: int = 3
    message_grouping: bool = True
    group_cols: list[str] | None = None
    timestamp_format: str = "iso8601"
    max_payload_bytes: int | None = 5 * 1024 * 1024
    # creation-time backfill directive (yaml_loader.ex initial_backfill:
    # true → backfill the sink's single source table; a list of
    # {table, [sort_column, start_position]} entries → one backfill
    # each, partial when the sort pair is given).  NOT a consumer
    # attribute: it acts only when the sink is CREATED (never on
    # update — yaml_loader_test.exs:2519), is excluded from equality
    # so re-applying the same YAML plans "unchanged", and is not
    # exported (backfills are their own resource, transforms.ex:513).
    initial_backfill: bool | list | None = field(default=None,
                                                 compare=False)

    def routing_schema(self) -> str:
        """Sinks without a reference routing schema route like the
        benchmark/file sinks — by kafka-style topic."""
        return self.sink_type if self.sink_type in ROUTING_SCHEMAS else "kafka"

    def routing_keys(self) -> list[str]:
        return list(ROUTING_SCHEMAS[self.routing_schema()].keys())

    def validate(self) -> list[str]:
        errs = []
        if self.sink_type not in SINK_REGISTRY:
            errs.append(f"unknown sink type {self.sink_type!r}")
        for f in self.column_filters:
            op = f.get("operator") if isinstance(f, dict) else f.operator
            if op not in OPERATORS:
                errs.append(f"unknown column filter operator {op!r}")
        for label, expr in [("filter", self.filter)] + [
            (f"routing.{k}", v) for k, v in self.routing_overrides.items()
        ]:
            # bare names are function references, resolved against the
            # functions section by check_references (not inline code)
            if expr and not (label == "filter"
                             and (expr == "none" or is_function_ref(expr))):
                ok, err = minipy_validate(expr)
                if not ok:
                    errs.append(f"{label}: {err}")
        if (self.transform
                and self.transform not in ("default", "record_only", "none")
                and not self.transform.startswith("path:")
                and not is_function_ref(self.transform)):
            ok, err = minipy_validate(self.transform)
            if not ok:
                errs.append(f"transform: {err}")
        if (self.enrichment and not is_function_ref(self.enrichment)
                and "$1" not in self.enrichment):
            errs.append("enrichment SQL must use parameterization ($1)")
        if (self.routing and self.routing != "none"
                and not is_function_ref(self.routing)):
            try:
                for key, src in routing_dict_sources(self.routing).items():
                    if key not in ROUTING_SCHEMAS.get(self.routing_schema(), {}):
                        errs.append(
                            f"routing key {key!r} not in "
                            f"{self.routing_schema()} schema")
                    ok, err = minipy_validate(src)
                    if not ok:
                        errs.append(f"routing.{key}: {err}")
            except ValueError as e:
                errs.append(str(e))
        if self.timestamp_format not in ("iso8601", "unix_microsecond"):
            errs.append(f"unknown timestamp_format {self.timestamp_format!r}")
        if not self.message_grouping and self.group_cols:
            # yaml_loader_test.exs:1169 — grouping columns on an
            # ungrouped sink are a contradiction, not a no-op
            errs.append(
                "Cannot specify group_column_names when "
                "message_grouping is false")
        errs.extend(self._validate_initial_backfill())
        return errs

    def _validate_initial_backfill(self) -> list[str]:
        """Shape checks for the creation-time backfill directive
        (yaml_loader_test.exs:2603-2643): list entries need a table;
        a partial backfill needs BOTH sort_column and start_position."""
        ib = self.initial_backfill
        if ib is None or isinstance(ib, bool):
            return []
        if not isinstance(ib, list):
            return [f"initial_backfill must be true, false or a list "
                    f"of tables, got {type(ib).__name__}"]
        errs = []
        for i, entry in enumerate(ib):
            if not isinstance(entry, dict) or not entry.get("table"):
                errs.append(
                    f"initial_backfill[{i}]: each entry requires a "
                    f"`table` field")
                continue
            has_sort = bool(entry.get("sort_column"))
            has_start = "start_position" in entry
            if has_start and not has_sort:
                errs.append(
                    f"initial_backfill[{i}]: partial backfill requires "
                    f"sort_column")
            if has_sort and not has_start:
                errs.append(
                    f"initial_backfill[{i}]: partial backfill requires "
                    f"start_position")
        return errs


def spec_from_dict(d: dict) -> ConsumerSpec:
    d = dict(d)
    src = d.pop("source", None)
    source = Source(**src) if isinstance(src, dict) else src
    return ConsumerSpec(source=source, **d)


def load_yaml(text_or_path: str) -> list[ConsumerSpec]:
    """Load a sequin.yaml-style config: {consumers: [{...}, ...]}."""
    return load_config(text_or_path)[1]


def load_config(
    text_or_path: str,
) -> tuple[list[FunctionSpec], list[ConsumerSpec]]:
    """Full document: ``functions:`` (legacy alias ``transforms:``,
    both present → error, yaml_loader.ex:1051-1057) + ``consumers:``."""
    import os

    import yaml

    if os.path.exists(text_or_path):
        with open(text_or_path) as f:
            doc = yaml.safe_load(f)
    else:
        doc = yaml.safe_load(text_or_path)
    doc = doc or {}
    if "functions" in doc and "transforms" in doc:
        raise ValueError("Cannot specify both `functions` and `transforms`")
    raw_fns = doc.get("functions", doc.get("transforms")) or []
    if isinstance(raw_fns, dict):
        raw_fns = [raw_fns]
    functions = [function_from_dict(f) for f in raw_fns]
    consumers = [spec_from_dict(c) for c in doc.get("consumers", [])]
    return functions, consumers


# sink_config keys that to_external redacts unless show_sensitive
# (transforms.ex:46-78 SensitiveValue semantics)
SENSITIVE_KEYS = frozenset(
    {"password", "secret", "token", "api_key", "credentials",
     "aws_secret_access_key", "shared_access_key"}
)


def to_external(spec: ConsumerSpec, show_sensitive: bool = False) -> dict:
    """Export a spec back to its YAML dict form — the reverse of
    ``spec_from_dict`` (transforms.ex:163-199 ``to_external/2`` for
    SinkConsumer). Defaults are omitted so the export is minimal;
    ``spec_from_dict(to_external(s)) == s`` (round-trip law, with
    secrets redacted to '****' unless show_sensitive)."""
    out: dict = {"name": spec.name, "sink_type": spec.sink_type}
    if spec.sink_config:
        out["sink_config"] = {
            k: ("****" if (k.lower() in SENSITIVE_KEYS and not show_sensitive) else v)
            for k, v in spec.sink_config.items()
        }
    if spec.source is not None:
        src = {
            k: v
            for k, v in vars(spec.source).items()
            if v is not None
        }
        if src:
            out["source"] = src
    defaults = ConsumerSpec(name="")
    for key in (
        "actions", "column_filters", "filter", "transform", "enrichment",
        "routing", "routing_overrides",
        "batch_size", "partition_count", "max_retry_count", "message_grouping",
        "group_cols", "timestamp_format", "max_payload_bytes",
    ):
        v = getattr(spec, key)
        if v != getattr(defaults, key):
            out[key] = v
    return out


def export_yaml(specs: list[ConsumerSpec], show_sensitive: bool = False,
                functions: list[FunctionSpec] | None = None) -> str:
    """Render specs as a loadable sequin.yaml document — YAML out ==
    YAML in (the reference's 1,626-line to_external/from_external layer,
    transforms.ex, collapsed onto our spec vocabulary)."""
    import yaml

    doc: dict = {}
    if functions:
        doc["functions"] = [function_to_external(f) for f in functions]
    doc["consumers"] = [to_external(s, show_sensitive) for s in specs]
    return yaml.safe_dump(doc, sort_keys=False)


def plan(specs: list[ConsumerSpec]) -> dict:
    """Plan/apply split (yaml_loader / POST /api/config/plan): report
    resources + validation errors without touching any cluster state."""
    report = {"consumers": [], "errors": {}}
    for s in specs:
        report["consumers"].append(
            {
                "name": s.name,
                "sink": s.sink_type,
                "routing_keys": s.routing_keys(),
                "batch_size": s.batch_size,
            }
        )
        errs = s.validate()
        if errs:
            report["errors"][s.name] = errs
    return report
