"""Check contract — the declarative spec of what to validate.

Analogue of RAQC's inicheck UserConfig ``.ini`` (SURVEY.md §3.1): a frozen,
pure-Python IR with no Spark dependency, round-trippable through YAML
(``Contract.to_yaml`` / ``Contract.from_yaml`` — the UserConfig file
analogue). ``plan.compile_plan`` turns a Contract into lazy DataFrame DAGs;
nothing here touches a SparkSession.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

#: Check names / column names / key lists are interpolated verbatim into
#: SQL text by the checks/ compilers (``'{name}' AS check_name``, ``v_{name}``
#: aliases, named_struct literals).  Restricting them to plain identifiers at
#: validate() time makes that interpolation safe by construction — a quote or
#: space in a YAML contract is rejected here, not parsed as SQL (ADVICE r3).
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _require_ident(what: str, value: object) -> None:
    if not isinstance(value, str) or not _IDENT.match(value):
        raise ValueError(
            f"{what} must match [A-Za-z_][A-Za-z0-9_]* (got {value!r}); "
            "names/columns/keys are interpolated into SQL text"
        )


@dataclass(frozen=True)
class Threshold:
    """Verdict rule: metric `op` value. op in {le, ge, lt, gt, eq}."""

    op: str
    value: float

    def passes(self, metric: float) -> bool:
        return {
            "le": metric <= self.value,
            "ge": metric >= self.value,
            "lt": metric < self.value,
            "gt": metric > self.value,
            "eq": metric == self.value,
        }[self.op]

    def sql(self, metric_col: str) -> str:
        op = {"le": "<=", "ge": ">=", "lt": "<", "gt": ">", "eq": "="}[self.op]
        return f"{metric_col} {op} {self.value!r}"


@dataclass(frozen=True)
class PartitionSpec:
    """Explicit repo-hash partitioning (BASELINE.json:6).

    ``partition_id = pmod(xxhash64(key), num_partitions)`` — the same
    expression drives both the physical ``repartition`` and the verdict
    grouping, so one shuffle is shared by all per-partition checks.
    """

    key: str = "repo"
    num_partitions: int = 8


@dataclass(frozen=True)
class Check:
    """One named check. ``kind`` selects the compiler in checks/registry."""

    name: str
    kind: str
    column: str | None = None
    threshold: Threshold = field(default_factory=lambda: Threshold("le", 0.0))
    params: tuple[tuple[str, object], ...] = ()

    @property
    def p(self) -> dict:
        return dict(self.params)


@dataclass(frozen=True)
class Contract:
    """Full validation contract for a snapshot (pair)."""

    checks: tuple[Check, ...]
    partition_spec: PartitionSpec = field(default_factory=PartitionSpec)
    schema_columns: tuple[str, ...] = ("repo", "path", "commit", "lang", "content")

    def validate(self) -> None:
        names = [c.name for c in self.checks]
        if len(names) != len(set(names)):
            raise ValueError(f"duplicate check names: {names}")
        _require_ident("partition_spec.key", self.partition_spec.key)
        for col in self.schema_columns:
            _require_ident("schema_columns entry", col)
        for c in self.checks:
            if c.kind not in KIND_PARAMS:
                raise ValueError(f"unknown check kind {c.kind!r} in {c.name!r}")
            _require_ident(f"check name", c.name)
            unread = set(c.p) - KIND_PARAMS[c.kind]
            if unread:
                raise ValueError(
                    f"{c.kind} check {c.name!r} has unknown params "
                    f"{sorted(unread)}; {c.kind} reads "
                    f"{sorted(KIND_PARAMS[c.kind]) or 'none'}"
                )
            if c.column is not None:
                _require_ident(f"column of check {c.name!r}", c.column)
            if c.kind == "length_quantiles" and c.p.get("method", "bins") != "bins":
                # the stats pass computes binned quantiles only
                # (checks/stats.py): another method must fail, not run bins
                raise ValueError(
                    f"length_quantiles check {c.name!r} sets method="
                    f"{c.p['method']!r}; only 'bins' is supported"
                )
            keys = c.p.get("keys")
            if keys is not None:
                for k in keys:
                    _require_ident(f"key of check {c.name!r}", k)
            if c.kind == "media_bounds":
                # the compiler interpolates the column into the violation
                # predicate; column=None would reach Spark analysis as the
                # literal text 'octet_length(None)' (ADVICE r4)
                if c.column is None:
                    raise ValueError(
                        f"media_bounds check {c.name!r} requires a column "
                        "(the payload/size column the byte bounds apply to)"
                    )
                tc = c.p.get("type_col")
                if tc is not None:
                    _require_ident(f"type_col of check {c.name!r}", tc)
                for t in c.p.get("allowed_types", ()):
                    if not isinstance(t, str) or not _MEDIA_TYPE.match(t):
                        raise ValueError(
                            f"allowed_types entry {t!r} in {c.name!r} must "
                            "match the MIME charset [A-Za-z0-9_/.+-]+; "
                            "values are interpolated into SQL text"
                        )

    # ------------------------------------------------- YAML (de)serialization

    def to_dict(self) -> dict:
        return {
            "schema_columns": list(self.schema_columns),
            "partition_spec": {
                "key": self.partition_spec.key,
                "num_partitions": self.partition_spec.num_partitions,
            },
            "checks": [
                {
                    "name": c.name,
                    "kind": c.kind,
                    **({"column": c.column} if c.column is not None else {}),
                    "threshold": {"op": c.threshold.op, "value": c.threshold.value},
                    **(
                        {"params": {k: _listed(v) for k, v in c.params}}
                        if c.params
                        else {}
                    ),
                }
                for c in self.checks
            ],
        }

    @classmethod
    def from_dict(cls, d: dict) -> Contract:
        _known_keys("contract", d, ("checks", "partition_spec", "schema_columns"))
        spec = _known_keys(
            "partition_spec", d.get("partition_spec", {}),
            ("key", "num_partitions"),
        )
        checks = []
        for c in d["checks"]:
            _known_keys(
                "check", c, ("name", "kind", "column", "threshold", "params")
            )
            th = _known_keys("threshold", c.get("threshold", {}), ("op", "value"))
            checks.append(Check(
                name=c["name"],
                kind=c["kind"],
                column=c.get("column"),
                threshold=Threshold(
                    th.get("op", "le"), float(th.get("value", 0.0))
                ),
                params=tuple(
                    (k, _tupled(v)) for k, v in c.get("params", {}).items()
                ),
            ))
        out = cls(
            checks=tuple(checks),
            partition_spec=PartitionSpec(
                key=spec.get("key", "repo"),
                num_partitions=int(spec.get("num_partitions", 8)),
            ),
            schema_columns=tuple(
                d.get(
                    "schema_columns",
                    ("repo", "path", "commit", "lang", "content"),
                )
            ),
        )
        out.validate()
        return out

    def to_yaml(self) -> str:
        import yaml

        return yaml.safe_dump(self.to_dict(), sort_keys=False)

    @classmethod
    def from_yaml(cls, text_or_path: str) -> Contract:
        import os

        import yaml

        if os.path.exists(text_or_path):
            with open(text_or_path) as f:
                text = f.read()
        else:
            text = text_or_path
        return cls.from_dict(yaml.safe_load(text))


def _known_keys(what: str, d: dict, known: tuple[str, ...]) -> dict:
    """``d`` itself, or ValueError naming the keys it has beyond ``known``:
    a misspelt key must fail, not silently run the default."""
    unknown = sorted(set(d) - set(known))
    if unknown:
        raise ValueError(
            f"unknown {what} key(s) {unknown}; expected one of {sorted(known)}"
        )
    return d


def _tupled(v):
    """YAML lists -> tuples, recursively (frozen-dataclass canonical form)."""
    if isinstance(v, list):
        return tuple(_tupled(x) for x in v)
    return v


def _listed(v):
    if isinstance(v, (list, tuple)):
        return [_listed(x) for x in v]
    return v


#: The params each check kind reads, one allow-list per kind (its compiler
#: in checks/): validate() rejects any other, so a misspelt param fails
#: instead of silently running the kind's default.
KIND_PARAMS: dict[str, frozenset[str]] = {
    "schema": frozenset(),
    "null_rate": frozenset(),
    "empty_content": frozenset(),
    "bounds": frozenset({"lo", "hi"}),
    "col_stats": frozenset(),
    "length_quantiles": frozenset(
        {"num_bins", "lo", "hi", "log_scale", "qs", "method"}
    ),
    "approx_distinct": frozenset({"method", "salt_buckets", "salt_on"}),
    "uniqueness": frozenset({"keys", "max_dup_keys"}),
    "ref_integrity": frozenset({"keys"}),
    "drift_psi": frozenset({"categorical"}),
    "drift_ks": frozenset({"num_bins", "lo", "hi", "log_scale"}),
    "hist2d_outlier": frozenset(
        {"num_bins", "lo", "hi", "log_scale", "min_cell_frac", "smooth"}
    ),
    "media_bounds": frozenset(
        {"min_bytes", "max_bytes", "allowed_types", "type_col"}
    ),
}

#: media-type literals ("image/png") are embedded as SQL string literals in
#: the media_bounds predicate; restrict to the MIME charset (no quotes).
_MEDIA_TYPE = re.compile(r"^[A-Za-z0-9_/.+-]+$")


def default_contract() -> Contract:
    """The standard code-table contract (north_star checks, BASELINE.json:6)."""
    return Contract(
        checks=(
            Check("schema", "schema"),
            Check("null_rate_content", "null_rate", column="content",
                  threshold=Threshold("le", 0.005)),
            Check("null_rate_lang", "null_rate", column="lang",
                  threshold=Threshold("le", 0.005)),
            Check("empty_content", "empty_content", column="content",
                  threshold=Threshold("le", 0.002)),
            Check("bounds_content_length", "bounds", column="content_length",
                  threshold=Threshold("le", 0.0),
                  params=(("lo", 1), ("hi", 1_000_000))),
            Check("length_quantiles", "length_quantiles", column="content_length",
                  threshold=Threshold("le", 500_000.0),
                  params=(("qs", (0.5, 0.95, 0.99)),)),
            # informational stat: verdict passes for any count >= 0
            Check("approx_distinct_path", "approx_distinct", column="path",
                  threshold=Threshold("ge", 0.0)),
            Check("uniqueness", "uniqueness",
                  params=(("keys", ("repo", "path", "commit")),)),
            Check("ref_integrity", "ref_integrity",
                  params=(("keys", ("repo", "commit")),)),
            Check("drift_psi_lang", "drift_psi", column="lang",
                  threshold=Threshold("le", 0.2)),
            Check("drift_ks_length", "drift_ks", column="content_length",
                  threshold=Threshold("le", 0.15),
                  # log-spaced bins over [1, e^14≈1.2M] chars: pinned edges →
                  # no data-dependent pre-scan, stable goldens
                  params=(("num_bins", 64), ("lo", 0.0), ("hi", 14.0),
                          ("log_scale", True))),
            # RAQC's signature operator (north_star "2D-histogram outlier
            # flagging"): rows in rare (lang × log-length-bucket) cells are
            # violations; a partition fails past 5% flagged. min_cell_frac
            # tuned on the seed-42 fixture so every injected V7/V4 length
            # outlier lands in a rare cell (tests/test_drift.py golden).
            Check("hist2d_outlier_lang_length", "hist2d_outlier",
                  threshold=Threshold("le", 0.05),
                  params=(("lo", 0.0), ("hi", 14.0), ("num_bins", 28),
                          ("log_scale", True), ("min_cell_frac", 0.003),
                          ("smooth", True))),
        )
    )
