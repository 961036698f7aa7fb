"""The recheck tier: verified queries whose code changed since their green row.

Each verification round re-checks only the first names that
``__spark_entry__.queries()`` yields, so it puts the queries that
changed since their latest green ``CORRECTNESS_r*.json`` row at the
head of the verified block. This module derives that set from git; nothing is kept by hand.

- A query's fingerprint is the docstring-stripped ``ast.dump`` of its
  registration site, plus the dump of every package-level definition it
  reaches: module constants and helpers in its own module, and, through
  ``from whisky_wine_etl_spark.X import f`` or ``import ... as m`` /
  ``m.f`` (at module top or inside a function), the definitions in other
  package modules, followed transitively. A module attribute that does
  not resolve to a definition folds in the whole module's dump. A query
  whose oracle is ``ORACLES["other"]`` also folds in ``other``'s.
  Formatting, comments and docstrings never change a fingerprint, and
  neither do module paths, so a verbatim move keeps it.
- A query's baseline is the first commit that touched the
  ``CORRECTNESS_r{R}.json`` of the latest round R with it green (HEAD
  while that file is not yet committed). The working tree is compared
  with it.

Parsed modules are cached by git blob id, so unchanged files are parsed
once per process however many baselines share them. When git or the
repository history is unavailable, the tier is empty.
"""

from __future__ import annotations

import ast
import glob
import hashlib
import json
import os
import re
import subprocess
from collections.abc import Iterable
from dataclasses import dataclass, field

PKG = "whisky_wine_etl_spark"


def green_rounds(repo: str) -> dict[str, int]:
    """name -> latest round with a green row (hash match, or ran under
    the rows-only carve-out) in the repo's CORRECTNESS_r*.json files."""
    rounds: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        r = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if isinstance(row, dict) and (
                row.get("hash_match") is True or row.get("err") == "no_oracle"
            ):
                rounds[name] = max(r, rounds.get(name, -1))
    return rounds


@dataclass
class _Def:
    """One module-level name: its statements' digest, the names and
    dotted attribute chains (``m.f`` as ("m", "f")) they load, and the
    imports made inside them."""

    digest: str
    chains: set[tuple[str, ...]] = field(default_factory=set)
    imports: dict[str, tuple[str, str | None]] = field(default_factory=dict)


@dataclass
class _Module:
    digest: str
    defs: dict[str, _Def]
    imports: dict[str, tuple[str, str | None]]
    # query name -> (root definition, name whose oracle it shares)
    regs: dict[str, tuple[str, str | None]]
    # query name -> root of a {"name": (fn, ORACLE_SQL)} table entry
    staged: dict[str, str]


def _digest(text: str) -> str:
    return hashlib.sha1(text.encode()).hexdigest()


def _strip_docstrings(tree: ast.AST) -> None:
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:] or [ast.Pass()]


def _bindings(node: ast.Import | ast.ImportFrom) -> dict[str, tuple[str, str | None]]:
    """local name -> (module, attribute or None for the module itself)."""
    if isinstance(node, ast.Import):
        # `import a.b as c` binds c to a.b; `import a.b` binds a to a
        return {
            a.asname or a.name.split(".")[0]: (a.name if a.asname else a.name.split(".")[0], None)
            for a in node.names
        }
    if node.level or not node.module:
        return {}  # the package uses absolute imports only
    return {a.asname or a.name: (node.module, a.name) for a in node.names}


def _loads(node: ast.AST, d: _Def) -> None:
    """Record the name chains and imports under node."""
    inner: set[int] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute):
            inner.add(id(n.value))
            if id(n) in inner:
                continue
            parts = [n.attr]
            v = n.value
            while isinstance(v, ast.Attribute):
                parts.append(v.attr)
                v = v.value
            if isinstance(v, ast.Name):
                d.chains.add((v.id, *reversed(parts)))
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            d.imports.update(_bindings(n))
    # ast.walk is breadth-first, so an Attribute is always visited before
    # the Attribute/Name nested in it: `inner` is complete by the time a
    # chain's inner parts come up, and only bare names remain here
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and id(n) not in inner:
            d.chains.add((n.id,))


def _bound_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets: list[ast.expr] = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]


def _query_decorator(node: ast.AST) -> tuple[str, str | None] | None:
    """(name, shared-oracle donor) of a ``@query("name", ...)`` decorator."""
    for dec in getattr(node, "decorator_list", []):
        if not (isinstance(dec, ast.Call) and dec.args):
            continue
        fn = dec.func
        called = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
        first = dec.args[0]
        if called != "query" or not (
            isinstance(first, ast.Constant) and isinstance(first.value, str)
        ):
            continue
        donor = None
        if len(dec.args) > 1:
            o = dec.args[1]
            if (
                isinstance(o, ast.Subscript)
                and isinstance(o.value, ast.Name)
                and o.value.id == "ORACLES"
                and isinstance(o.slice, ast.Constant)
            ):
                donor = o.slice.value
        return first.value, donor
    return None


def _analyse(src: str) -> _Module:
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return _Module(_digest(src), {}, {}, {}, {})
    _strip_docstrings(tree)
    stmts: dict[str, list[ast.stmt]] = {}
    imports: dict[str, tuple[str, str | None]] = {}
    regs: dict[str, tuple[str, str | None]] = {}
    staged: dict[str, ast.expr] = {}
    for stmt in tree.body:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            imports.update(_bindings(stmt))
            continue
        names = _bound_names(stmt)
        for nm in names:
            stmts.setdefault(nm, []).append(stmt)
        for node in ast.walk(stmt):
            # @query registrations at any depth (a function may register
            # its nested def when called): the root is the top-level
            # definition holding it
            reg = _query_decorator(node)
            if reg and names:
                regs[reg[0]] = (names[0], reg[1])
            # {"name": (fn, ORACLE_SQL), ...} tables a register() call
            # feeds to query(); the entry's value is the root
            if isinstance(node, ast.Dict):
                for k, v in zip(node.keys, node.values, strict=True):
                    if (
                        isinstance(k, ast.Constant)
                        and isinstance(k.value, str)
                        and isinstance(v, ast.Tuple)
                    ):
                        staged[k.value] = v
    defs: dict[str, _Def] = {}
    for nm, group in stmts.items():
        d = _Def(_digest("\n".join(ast.dump(s) for s in group)))
        for s in group:
            _loads(s, d)
        defs[nm] = d
    for qname, value in staged.items():
        d = defs[f"<{qname}>"] = _Def(_digest(ast.dump(value)))
        _loads(value, d)
    return _Module(
        _digest(ast.dump(tree)), defs, imports, regs,
        {qname: f"<{qname}>" for qname in staged},
    )


_ANALYSED: dict[str, _Module] = {}  # by git blob id: content-addressed


def _blob_id(data: bytes) -> str:
    return hashlib.sha1(b"blob %d\0" % len(data) + data).hexdigest()


def _module_name(relpath: str) -> str:
    mod = relpath[: -len(".py")].replace("/", ".")
    return mod[: -len(".__init__")] if mod.endswith(".__init__") else mod


_Node = tuple[str, str | None]  # (module, definition), None = whole module


class _Tree:
    def __init__(self, modules: dict[str, _Module]):
        self.modules = modules

    def _target(self, module: str, attr: str | None, depth: int = 0) -> _Node | str | None:
        """What an import binds: a definition node, a module name (str),
        or None outside the package."""
        if not module.startswith(PKG) or depth > 8:
            return None
        if attr is None:
            return module if module in self.modules else None
        if f"{module}.{attr}" in self.modules:
            return f"{module}.{attr}"
        return self._member(module, attr, depth)

    def _member(self, module: str, attr: str, depth: int = 0) -> _Node | str | None:
        m = self.modules.get(module)
        if m is None:
            return None
        if attr in m.defs:
            return (module, attr)
        if attr in m.imports:  # re-export
            return self._target(*m.imports[attr], depth + 1)
        return None

    def _resolve(self, module: str, d: _Def, name: str) -> _Node | str | None:
        if name in d.imports:
            return self._target(*d.imports[name])
        if name in self.modules[module].defs:
            return (module, name)
        if name in self.modules[module].imports:
            return self._target(*self.modules[module].imports[name])
        return None

    def _edges(self, module: str, d: _Def) -> Iterable[_Node]:
        for base, *attrs in d.chains:
            t = self._resolve(module, d, base)
            for attr in attrs:
                if not isinstance(t, str):
                    break
                t = self._target(t, attr) or (t, None)
            if isinstance(t, str):
                t = (t, None)  # a module used as a value, or no such attribute
            if t is not None:
                yield t

    def fingerprint(self, root: _Node) -> str:
        seen: set[_Node] = set()
        parts: list[str] = []
        todo = [root]
        while todo:
            node = todo.pop()
            if node in seen:
                continue
            seen.add(node)
            module, name = node
            m = self.modules[module]
            if name is None:
                parts.append(f"<module {module}>={m.digest}")
                continue
            d = m.defs[name]
            parts.append(f"{name}={d.digest}")
            todo.extend(self._edges(module, d))
        return _digest("\n".join(sorted(parts)))

    def fingerprints(self, names: Iterable[str]) -> dict[str, str | None]:
        """name -> fingerprint, None when no registration site is found."""
        sites: dict[str, tuple[str, str, str | None]] = {}
        for module, m in self.modules.items():
            for qname, root in m.staged.items():
                sites.setdefault(qname, (module, root, None))
        for module, m in self.modules.items():  # decorators win
            for qname, (root, donor) in m.regs.items():
                sites[qname] = (module, root, donor)
        out: dict[str, str | None] = {}
        for name in names:
            parts: list[str] = []
            key: str | None = name
            while key in sites and len(parts) < 8:
                module, root, key = sites[key]
                parts.append(self.fingerprint((module, root)))
            out[name] = "+".join(parts) if parts else None
        return out


def _git(repo: str, *args: str, stdin: bytes | None = None) -> bytes:
    return subprocess.run(
        ["git", *args], cwd=repo, input=stdin, capture_output=True, check=True
    ).stdout


def _baselines(repo: str) -> dict[int, str]:
    """round -> first commit that touched its CORRECTNESS file."""
    out: dict[int, str] = {}
    commit = ""
    log = _git(
        repo, "log", "--reverse", "--format=%H", "--name-only", "--",
        "CORRECTNESS_r*.json",
    ).decode()
    for line in log.splitlines():
        if re.fullmatch(r"[0-9a-f]{40}", line):
            commit = line
        elif m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", line):
            out.setdefault(int(m.group(1)), commit)
    return out


def _tree_at(repo: str, commit: str) -> dict[str, str]:
    """repo-relative .py path -> blob id, for the package at commit."""
    out = {}
    for entry in _git(repo, "ls-tree", "-r", "-z", commit, "--", PKG).split(b"\0"):
        if not entry:
            continue
        meta, path = entry.decode().split("\t", 1)
        if path.endswith(".py") and meta.split()[1] == "blob":
            out[path] = meta.split()[2]
    return out


def _working_tree(repo: str) -> dict[str, str]:
    out = {}
    for path in glob.glob(os.path.join(repo, PKG, "**", "*.py"), recursive=True):
        with open(path, "rb") as f:
            data = f.read()
        blob = _blob_id(data)
        if blob not in _ANALYSED:
            _ANALYSED[blob] = _analyse(data.decode())
        out[os.path.relpath(path, repo).replace(os.sep, "/")] = blob
    return out


def _load_blobs(repo: str, blobs: set[str]) -> None:
    missing = sorted(blobs - _ANALYSED.keys())
    if not missing:
        return
    out = _git(repo, "cat-file", "--batch", stdin="".join(f"{b}\n" for b in missing).encode())
    pos = 0
    for blob in missing:
        header_end = out.index(b"\n", pos)
        size = int(out[pos:header_end].split()[2])
        start = header_end + 1
        _ANALYSED[blob] = _analyse(out[start : start + size].decode())
        pos = start + size + 1


def _tree_of(paths: dict[str, str]) -> _Tree:
    return _Tree({_module_name(rel): _ANALYSED[blob] for rel, blob in paths.items()})


def tier(repo: str, names: Iterable[str]) -> frozenset[str]:
    """The names among ``names`` whose fingerprint in the working tree
    differs from the one at their latest green round's baseline commit.
    Empty when git or the repository history is unavailable."""
    greens = green_rounds(repo)
    names = [n for n in names if n in greens]
    try:
        head = _git(repo, "rev-parse", "HEAD").decode().strip()
        baselines = _baselines(repo)
        by_commit: dict[str, list[str]] = {}
        for n in names:
            by_commit.setdefault(baselines.get(greens[n], head), []).append(n)
        trees = {c: _tree_at(repo, c) for c in by_commit}
        _load_blobs(repo, {b for t in trees.values() for b in t.values()})
    except (OSError, subprocess.CalledProcessError, ValueError, IndexError):
        return frozenset()
    current = _tree_of(_working_tree(repo)).fingerprints(names)
    changed: set[str] = set()
    for commit, group in by_commit.items():
        then = _tree_of(trees[commit]).fingerprints(group)
        changed.update(n for n in group if then[n] != current[n])
    return frozenset(changed)
