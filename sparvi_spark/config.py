"""One engine-wide scale-mode switch.

The repo keeps two implementations of several hot operators:

- an **oracle-parity** path (interpreted fold expressions, exact
  COUNT(DISTINCT)/percentiles, full-row dedup) whose summation order and
  rounding are bit-stable against the DuckDB correctness oracles; and
- a **scale** path (Arrow-batched BLAS lanes, sketches, hash
  projections) — the shape that survives 100 TB, at the cost of
  final-ULP float differences that would flake a hash-equality oracle.

Before this module each scale path was its own keyword argument —
``profile_table(exact=...)``, ``embedding_neardup_pairs(pair_backend=
...)``, ``cosine_topk(backend=...)``, ``ivf_topk_trained(
assign_backend=...)`` — and a user running at scale had to know every
knob (the reference exposes ONE collection-depth config for the same
trade-off: core/profiling/collector.py:21-46). This module is the one
switch: every such keyword now defaults to ``None`` = "resolve from
scale mode", so

    from sparvi_spark.config import set_scale_mode
    set_scale_mode(True)          # or Engine(..., scale_mode=True)

flips all of them at once, while any explicit per-call argument still
wins (parity tests pin ``"fold"``/``exact=True`` regardless of mode).

Plain module global, not a threading.local: the switch is deployment
configuration (set once at startup, like spark.conf), not a per-request
value — and Spark driver code that mutated it per-thread would
desynchronize from the executors anyway.
"""

from __future__ import annotations

_SCALE_MODE = False


def scale_mode() -> bool:
    """Current engine-wide scale mode (False = oracle-parity defaults)."""
    return _SCALE_MODE


def set_scale_mode(on: bool) -> None:
    """Flip every scale-vs-parity default in one place (see module doc)."""
    global _SCALE_MODE
    _SCALE_MODE = bool(on)


# Spark conf knob: multi-session deployments configure scale mode the
# same way as every other Spark setting (spark-defaults.conf, --conf,
# SparkSession.builder.config). Read at Engine construction.
SPARK_CONF_KEY = "spark.sparvi.scaleMode"

_TRUTHY = ("true", "1", "yes", "on")


def resolve_scale_mode(explicit: bool | None = None,
                       spark=None) -> bool:
    """Resolve an engine's scale mode with deployment-config precedence:
    explicit constructor argument > ``spark.sparvi.scaleMode`` session
    conf > the process-wide default set via :func:`set_scale_mode`.
    Returns a concrete bool — engines snapshot it at construction so two
    engines in one process can run opposite modes without either one
    silently flipping the other (last-constructor-wins was the old
    failure shape)."""
    if explicit is not None:
        return bool(explicit)
    if spark is not None:
        try:
            raw = spark.conf.get(SPARK_CONF_KEY, None)
        except Exception:
            raw = None
        if raw is not None:
            return str(raw).strip().lower() in _TRUTHY
    return _SCALE_MODE


# Allowed values of the string-selected physical lanes shared by
# several operators (single-operator lanes spell theirs at the call).
HASH_FNS = ("xxhash64", "portable", "arrow")
FOLD_GRAM = ("fold", "gram")


def check_lane(value, allowed: tuple, lane: str):
    """The one place lane names are validated: a value outside
    ``allowed`` raises instead of silently taking some operator's
    else-branch (a mistyped ``hash_fn`` would otherwise compute xxhash64
    and be stamped into state under the mistyped name)."""
    if value not in allowed:
        raise ValueError(f"unknown {lane} {value!r}; expected one of "
                         f"{', '.join(map(repr, allowed))}")
    return value


def resolve_backend(value: str | None, scale_value: str,
                    parity_value: str = "fold", *,
                    allowed: tuple[str, ...], lane: str) -> str:
    """An explicit argument wins; ``None`` resolves from scale mode.
    Either way the result is checked against ``allowed``."""
    if value is None:
        value = scale_value if _SCALE_MODE else parity_value
    return check_lane(value, allowed, lane)


def resolve_hash_fn(value: str | None) -> str:
    """The MinHash/SimHash ``hash_fn`` lane: arrow at scale, xxhash64
    otherwise."""
    return resolve_backend(value, "arrow", "xxhash64", allowed=HASH_FNS,
                           lane="hash_fn")


def resolve_exact(value: bool | None) -> bool:
    """``exact`` flags: explicit wins; ``None`` = exact unless at scale."""
    if value is not None:
        return value
    return not _SCALE_MODE
