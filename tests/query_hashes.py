"""Shared helper for the rotation-policy manifest (see
``scripts/update_checked_hashes.py``): hash of a registered query's
plan-function source + oracle SQL + the source of every package-local
helper the plan transitively references.

The manifest ``checked_hashes.json`` holds both hashes of each row as
of its last stamp, ``{name: {"v2": ..., "v1": ...}}``.

r12 ADVICE #1 closed the known hole in the v1 hash (plan-function
source only): helper-level behavior changes (e.g. the fixed-point DCT
rework inside ``operators/multimodal.py``) did not flip the consumer
queries' hashes, so those rows escaped the behavior-changed->window
rotation guard. v2 walks the reference closure:

- every NAME token in the plan function's source is resolved against
  the function's globals; package-local functions/classes contribute
  their own source and are walked recursively,
- package-local *modules* (``from ..operators import dedup as dd`` or
  an in-body ``from ..operators import multimodal as mm``) contribute
  the source of each attribute the referencing source actually names
  (``dd.minhash_signature`` -> both tokens appear, so the attr is
  resolved and included),
- simple module-level constants (str/bytes/numbers and pure containers
  of those) contribute their repr, since CTE/threshold constants are
  behavior.

The walk is deliberately over-approximate (an unused token that happens
to match a module attr pulls that attr in) — the failure direction is
"query enters the window unnecessarily", never "behavior change
escapes". Remaining documented gaps: getattr-by-string dispatch and
data read from files.
"""

from __future__ import annotations

import hashlib
import importlib
import inspect
import os
import re
import sys
import types

from lms_erp_data_integration_spark import plans

PKG = "lms_erp_data_integration_spark"
MANIFEST_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "checked_hashes.json"
)

_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

# token -> resolved pkg submodule (or None) — failed importlib probes are
# expensive enough to dominate a 220-query sweep without this memo
_MOD_MEMO: dict[str, types.ModuleType | None] = {}

# source cache keyed by id() of the function/class object (objects are
# module-level singletons, alive for the interpreter's lifetime here)
_SRC_CACHE: dict[int, tuple[str, set[str], object]] = {}


def _in_pkg(obj: object) -> bool:
    if isinstance(obj, types.ModuleType):
        return obj.__name__.startswith(PKG)
    mod = getattr(obj, "__module__", "") or ""
    return mod.startswith(PKG)


def _stable_const(obj: object) -> str | None:
    """repr for constants whose repr is deterministic; None otherwise."""
    if isinstance(obj, (str, bytes, int, float, bool)) or obj is None:
        return repr(obj)
    if isinstance(obj, (tuple, list, frozenset, set)):
        parts = [_stable_const(x) for x in obj]
        if all(p is not None for p in parts):
            if isinstance(obj, (set, frozenset)):
                parts = sorted(parts)  # type: ignore[type-var]
            return f"{type(obj).__name__}({','.join(parts)})"  # type: ignore[arg-type]
        return None
    if isinstance(obj, dict):
        parts = []
        for k, v in obj.items():
            ks, vs = _stable_const(k), _stable_const(v)
            if ks is None or vs is None:
                return None
            parts.append(f"{ks}:{vs}")
        return "dict(" + ",".join(sorted(parts)) + ")"
    return None


def _name_tokens(src: str) -> set[str]:
    """NAME tokens of the source via the real tokenizer, so comments
    and string literals (docstrings, inline SQL) do NOT create
    closure edges — a comment mentioning ``session``/``get_spark``
    must not make every Catalog consumer depend on session.py. The
    full source text still feeds the hash; only EDGE DISCOVERY is
    comment/string-blind. Falls back to a regex over the whole text
    when tokenize rejects the snippet (failure direction: extra
    edges, never missed code)."""
    import io
    import textwrap
    import tokenize

    try:
        return {
            t.string
            for t in tokenize.generate_tokens(
                io.StringIO(textwrap.dedent(src)).readline
            )
            if t.type == tokenize.NAME
        }
    except (tokenize.TokenError, IndentationError, SyntaxError):
        return set(_NAME_RE.findall(src))


def _src_and_tokens(obj: object) -> tuple[str, set[str], object] | None:
    """(source, NAME tokens, globals-like namespace) for a pkg object."""
    key = id(obj)
    hit = _SRC_CACHE.get(key)
    if hit is not None:
        return hit
    try:
        src = inspect.getsource(obj)  # type: ignore[arg-type]
    except (OSError, TypeError):
        return None
    if inspect.isfunction(obj):
        ns = obj.__globals__
    else:  # class: resolve tokens against its defining module
        mod = sys.modules.get(getattr(obj, "__module__", ""), None)
        ns = vars(mod) if mod is not None else {}
    out = (src, _name_tokens(src), ns)
    _SRC_CACHE[key] = out
    return out


# The registry aggregates are NOT behavior constants of any single
# query: a plan whose oracle composes other queries' oracle text via
# ORACLES[...] already hashes the composed result (the registered
# oracle string), so folding the whole dict in would couple every
# query to every other query's registration.
_REGISTRY_AGGREGATES = (plans.QUERIES, plans.ORACLES)


# A path derived from ``__file__`` (``vendor._PBSHIM_DIR``) names where
# the checkout sits, not behaviour: hash it relative to the repo root so
# a checkout elsewhere computes the same hashes.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _const_repr(obj: object) -> str | None:
    if any(obj is agg for agg in _REGISTRY_AGGREGATES):
        return None
    const = _stable_const(obj)
    return None if const is None else const.replace(_REPO_ROOT, "<repo>")


def _walk(obj: object, seen: set[int], pieces: list[str]) -> None:
    if id(obj) in seen:
        return
    seen.add(id(obj))
    got = _src_and_tokens(obj)
    if got is None:
        return
    src, tokens, ns = got
    pieces.append(src)
    # Pass 1: resolve tokens against the namespace; collect pkg modules.
    mods: list[types.ModuleType] = []
    for tok in sorted(tokens):
        target = ns.get(tok) if isinstance(ns, dict) else None
        if target is None:
            # in-body `from ..operators import X` leaves no global; the
            # submodule's own name still appears as a token — resolve it
            # against the package's module tree (importing lazily-loaded
            # submodules so their attrs are walkable).
            if tok in _MOD_MEMO:
                target = _MOD_MEMO[tok]
            else:
                for cand in (f"{PKG}.{tok}", f"{PKG}.operators.{tok}",
                             f"{PKG}.functions.{tok}", f"{PKG}.sources.{tok}",
                             f"{PKG}.pipeline.{tok}", f"{PKG}.streaming.{tok}",
                             f"{PKG}.plans.{tok}"):
                    target = sys.modules.get(cand)
                    if target is None:
                        try:
                            target = importlib.import_module(cand)
                        except ImportError:
                            continue
                    break
                _MOD_MEMO[tok] = target
        if target is None or not _in_pkg(target):
            continue
        if isinstance(target, types.ModuleType):
            mods.append(target)
        elif inspect.isfunction(target) or inspect.isclass(target):
            _walk(target, seen, pieces)
        else:
            const = _const_repr(target)
            if const is not None:
                pieces.append(f"{tok}={const}")
    # Pass 2: attrs of referenced pkg modules that the source names.
    for mod in mods:
        mvars = vars(mod)
        for tok in sorted(tokens):
            if tok not in mvars:
                continue
            target = mvars[tok]
            if not _in_pkg(target) and not isinstance(
                target, (str, bytes, int, float, bool, tuple, list,
                         frozenset, set, dict)
            ):
                continue
            if inspect.isfunction(target) or inspect.isclass(target):
                _walk(target, seen, pieces)
            elif not isinstance(target, types.ModuleType):
                const = _const_repr(target)
                if const is not None:
                    pieces.append(f"{mod.__name__}.{tok}={const}")


def query_source_hash(name: str) -> str:
    fn = plans.QUERIES[name]
    pieces: list[str] = []
    _walk(fn, set(), pieces)
    oracle = plans.ORACLES.get(name, "")
    return hashlib.sha256(
        ("\x00".join(pieces) + "\x00ORACLE\x00" + oracle).encode()
    ).hexdigest()[:16]


def query_v1_hash(name: str) -> str:
    """v1 hash: the plan function's OWN source + oracle SQL, no
    closure walk — deliberately blind to shared-helper changes, so it
    distinguishes "this row's plan code changed" from "a helper in
    its closure changed". The v2 hash (``query_source_hash``) governs
    window entry; this one governs bootstrap restamps: a shared-helper
    change flips nearly every v2 hash, and a ``--bootstrap`` restamp
    of the rows outside the window is safe only while their v1
    hashes prove that their own plan source did not change."""
    fn = plans.QUERIES[name]
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = ""
    oracle = plans.ORACLES.get(name, "")
    return hashlib.sha256(
        (src + "\x00ORACLE\x00" + oracle).encode()
    ).hexdigest()[:16]
