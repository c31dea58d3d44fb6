"""Mechanical driver-gate rotation policy.

The external correctness gate records rows for the FIRST 50 entries of
``queries()`` per round. With >100 registered queries, which 50 run
under the hard gate each round is decided HERE, by a uniform rule over
recorded facts — never by a hand-curated name list:

priority 0  never hash-green in any committed CORRECTNESS_r*.json
priority 1  hash-green before, but the query's fingerprint differs from
            the ledger entry recorded at its last green row — the code
            it runs changed and must re-gate
priority 2  hash-green with an unchanged fingerprint, but only against
            an older testdata generation (the driver regenerated
            parquet between rounds; old rows are expired evidence)
priority 3  hash-green against the current data generation with an
            unchanged fingerprint — re-validated oldest-round first

Ties break on registration order (module import order), so coverage
rotates mechanically: once a priority-2 query earns a current-gen row
it drops to priority 3 and the next registration-order block floats
into the window the following round.

A query's fingerprint (``fingerprint_query``) is transitive: its
oracle SQL plus the source of every top-level package definition
(function, class or module-level constant) the query reaches by name.
An edit to a shared operator or helper therefore moves the
fingerprint of every query that reaches it, and those queries re-gate
on their own; there is no hand-kept list of changed queries.

Facts come from two places:

- ``CORRECTNESS_r*.json`` at the repo root — the driver's own records
  (committed each round; parsed, never edited).
- ``gate_ledger.json`` next to this module — per-query fingerprints
  taken at each query's last green row, the data generation each round
  ran on, and a fingerprint of the sf0.01 testdata so a regeneration is
  detected loudly instead of silently expiring evidence. It is written
  only by ``python tools/update_gate_ledger.py`` at round start, which
  records fingerprints solely for rounds the ledger has not seen yet;
  a PR that edits code never runs it.

Every fact-read degrades gracefully (missing file → conservative
classification), so the driver's import of ``__spark_entry__`` can
never fail on a ledger problem: with no facts at all, every query is
priority 0 and the order is plain registration order.
"""

from __future__ import annotations

import ast
import functools
import glob
import hashlib
import importlib.util
import json
import os
import re
from typing import Callable, Mapping

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(os.path.dirname(_HERE))
LEDGER_PATH = os.path.join(_HERE, "gate_ledger.json")

GATE_CAP = 50  # observed driver cap: first 50 queries() entries/round

_PKG = __name__.split(".")[0]  # fingerprints follow names into this package only


def _bindings(node: ast.Import | ast.ImportFrom, package: str) -> dict:
    """Names an import statement binds → (module, attribute or None)."""
    if isinstance(node, ast.Import):  # `import a.b` binds a; `as x` binds a.b
        tops = {a: a.name if a.asname else a.name.split(".")[0] for a in node.names}
        return {a.asname or top: (top, None) for a, top in tops.items()}
    base = node.module or ""
    if node.level:
        base = importlib.util.resolve_name("." * node.level + base, package)
    return {a.asname or a.name: (base, a.name) for a in node.names}


def _references(node: ast.AST, package: str) -> tuple[frozenset, dict]:
    """Dotted name chains a definition reads (``x``, ``mod.attr``) and
    the bindings of its function-local imports. Decorators are skipped:
    they register or wrap a definition, they are not what it computes."""
    chains: set[tuple[str, ...]] = set()
    local: dict = {}
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            local.update(_bindings(n, package))
        elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            chains.add((n.id,))
        elif isinstance(n, ast.Attribute):
            parts, v = [], n
            while isinstance(v, ast.Attribute):
                parts.append(v.attr)
                v = v.value
            if isinstance(v, ast.Name):
                chains.add((v.id, *reversed(parts)))
        skip = {id(d) for d in getattr(n, "decorator_list", ())}
        stack.extend(c for c in ast.iter_child_nodes(n) if id(c) not in skip)
    return frozenset(chains), local


@functools.lru_cache(maxsize=None)
def _definitions(modname: str) -> tuple[dict, dict] | None:
    """(definitions, module-level import bindings) of one package module,
    None for anything else. A definition is a top-level function, class
    or assigned name: ``{name: (source text, name chains, local import
    bindings)}``; the parse tree is dropped once these are extracted.
    The module is imported, never looked up in ``sys.modules``, so a
    fingerprint does not depend on which lazily imported modules happen
    to be loaded already."""
    if modname != _PKG and not modname.startswith(_PKG + "."):
        return None
    try:
        module = importlib.import_module(modname)
        with open(module.__file__, encoding="utf-8") as f:
            source = f.read()
    except (ImportError, OSError):  # an attribute name, not a module
        return None
    lines = source.splitlines()
    defs: dict = {}
    imports: dict = {}
    for node in ast.parse(source).body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            imports.update(_bindings(node, module.__package__))
            continue
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [
                t.id
                for target in targets
                for t in ast.walk(target)
                if isinstance(t, ast.Name) and isinstance(t.ctx, ast.Store)
            ]
        else:
            continue
        text = "\n".join(lines[node.lineno - 1 : node.end_lineno])
        chains, local = _references(node, module.__package__)
        for name in names:  # a re-assigned name is defined by every statement
            t0, c0, l0 = defs.get(name, ("", frozenset(), {}))
            defs[name] = (t0 + "\n" + text, c0 | chains, {**l0, **local})
    return defs, imports


def _resolve(modname: str, attr: str | None) -> tuple[str, str | None] | None:
    """``modname.attr`` → (module, definition name), or (module, None)
    when it names a package module; None outside the package."""
    index = _definitions(modname)
    if index is None or attr is None:
        return index and (modname, None)
    defs, imports = index
    if attr in defs:
        return modname, attr
    # a package that imports its own submodule binds it to itself
    # (`from pkg import sub` inside pkg); that name is the submodule
    if attr in imports and imports[attr] != (modname, attr):
        return _resolve(*imports[attr])
    sub = f"{modname}.{attr}"
    return (sub, None) if _definitions(sub) is not None else None


def _targets(modname: str, chains, local: dict) -> set[tuple[str, str]]:
    """The package definitions that name chains read in ``modname``
    (``local`` = function-local import bindings, shadowing the module's)."""
    defs, imports = _definitions(modname)
    out = set()
    for head, *attrs in chains:
        binding = local.get(head) or ((modname, head) if head in defs else imports.get(head))
        node = binding and _resolve(*binding)
        for attr in attrs:
            if node and node[1] is None:
                node = _resolve(node[0], attr)
        if node and node[1]:
            out.add(node)
    return out


@functools.lru_cache(maxsize=None)
def _edges(modname: str, name: str) -> tuple[tuple[str, str], ...]:
    """The package definitions one definition reads by name."""
    _text, chains, local = _definitions(modname)[0][name]
    return tuple(sorted(_targets(modname, chains, local)))


def _reachable(fn: Callable) -> set[tuple[str, str]] | None:
    """(module, name) of every package definition the query function
    reaches, its own top-level definition included; None when ``fn``
    is not defined in the package."""
    root = (fn.__module__, fn.__qualname__.split(".")[0])
    index = _definitions(root[0])
    if index is None or root[1] not in index[0]:
        return None
    seen, stack = {root}, [root]
    while stack:
        for dep in _edges(*stack.pop()):
            if dep not in seen:
                seen.add(dep)
                stack.append(dep)
    return seen


def fingerprint_query(fn: Callable, oracle_sql: str | None) -> str:
    """Identity of a query's semantics as gated: its oracle SQL plus the
    source of every top-level package definition reachable from the
    query function. Changing any of them means prior green rows no
    longer vouch for the current code."""
    h = hashlib.sha256()
    reached = _reachable(fn)
    if reached is None:  # not a package definition: the repr's address
        h.update(repr(fn).encode())  # differs per process, so never vouched
    for modname, name in sorted(reached or ()):
        h.update(f"{modname}:{name}\x00{_definitions(modname)[0][name][0]}\x00".encode())
    h.update(b"\x00" + (oracle_sql or "").encode())
    return h.hexdigest()


def testdata_fingerprint(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Cheap, stable id of a testdata generation: table names + file
    sizes. A driver-side regeneration virtually always changes sizes;
    the ledger pins this so stale-data evidence is detected by a test
    instead of discovered in a verdict."""
    h = hashlib.sha256()
    try:
        for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            h.update(os.path.basename(path).encode())
            h.update(str(os.path.getsize(path)).encode())
    except OSError:
        return "unavailable"
    return h.hexdigest()


def load_ledger(path: str = LEDGER_PATH) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def load_correctness_rounds(repo_root: str = _REPO_ROOT) -> dict[int, dict]:
    """Parse every committed CORRECTNESS_r*.json → {round: {query: row}}."""
    rounds: dict[int, dict] = {}
    for path in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                rounds[int(m.group(1))] = json.load(f)
        except (OSError, ValueError):
            continue
    return rounds


def _is_green(row: Mapping, has_oracle: bool) -> bool:
    """A row vouches for a query iff the hash matched — or, for a query
    that (still) has no oracle, a rows-only record is the strongest
    evidence the gate can produce for it."""
    if row.get("hash_match") is True:
        return True
    return (
        not has_oracle
        and row.get("err") == "no_oracle"
        and row.get("spark_rows") is not None
    )


def classify(
    queries: Mapping[str, Callable],
    oracles: Mapping[str, str],
    ledger: dict | None = None,
    rounds: dict[int, dict] | None = None,
) -> dict[str, tuple]:
    """Return {name: (priority, last_green_round, reg_index)} — the sort
    key that defines the gate window."""
    ledger = load_ledger() if ledger is None else ledger
    rounds = load_correctness_rounds() if rounds is None else rounds
    gen_by_round = {
        int(k): v for k, v in ledger.get("data_gen_by_round", {}).items()
    }
    current_gen = ledger.get("current_data_gen", "g0")
    fingerprints = ledger.get("fingerprints", {})

    keys: dict[str, tuple] = {}
    for reg_index, (name, fn) in enumerate(queries.items()):
        has_oracle = name in oracles
        green_rounds = [
            r
            for r, rows in rounds.items()
            if name in rows and _is_green(rows[name], has_oracle)
        ]
        if not green_rounds:
            keys[name] = (0, 0, reg_index)
            continue
        last_green = max(green_rounds)
        current_fp = fingerprint_query(fn, oracles.get(name))
        if fingerprints.get(name) != current_fp:
            keys[name] = (1, 0, reg_index)
        elif gen_by_round.get(last_green, current_gen) != current_gen:
            keys[name] = (2, 0, reg_index)
        else:
            keys[name] = (3, last_green, reg_index)
    return keys


def gate_order(
    queries: Mapping[str, Callable], oracles: Mapping[str, str]
) -> list[str]:
    keys = classify(queries, oracles)
    return sorted(queries, key=keys.__getitem__)
