"""The "last non-test caller" scan: which package definitions a change
can delete.

It builds a reference graph of every top-level ``def``/``class``/
assignment in the package, ``__spark_entry__.py`` and ``perfbench/``,
resolved through each module's imports. Its roots are module-level
statements, package re-exports, every registered query not being
retired, ``__spark_entry__`` and perfbench. Three lists come out:

- ``retire``: what becomes unreachable when the seed queries go (and
  the cut caller edges with them);
- ``test_only``: what no root reaches, though a test may (this file is
  not counted as a test);
- ``nobody``: what nothing reaches at all, not even a test.

Names resolve statically: a definition reached only through
``getattr`` or a string shows up as unreachable, so grep what the scan
lists before deleting it.

    python tests/caller_scan.py <root> <seeds> <cuts>

``seeds`` are registry names to retire, ``cuts`` caller edges retired
with them, written ``pkg.mod.caller>pkg.mod.callee``; both are
comma-separated, ``""`` for none.
"""

from __future__ import annotations

import ast
import pathlib
import sys

Key = tuple[str, str]   # (module, top-level name)


def _test_names(root: pathlib.Path) -> set[str]:
    """Every name or attribute a test file mentions or imports."""
    names: set[str] = set()
    for p in (root / "tests").glob("*.py"):
        if p.name == "caller_scan.py":
            continue
        for n in ast.walk(ast.parse(p.read_text())):
            if isinstance(n, (ast.Name, ast.Attribute)):
                names.add(getattr(n, "id", None) or n.attr)
            elif isinstance(n, ast.ImportFrom):
                names |= {a.name for a in n.names}
    return names


def _is_reg(n: ast.AST) -> bool:
    return any(isinstance(d, ast.Call) and getattr(d.func, "id", "") == "register"
               for d in getattr(n, "decorator_list", []))


def scan(root, seeds=(), cuts=()) -> dict:
    root = pathlib.Path(root)
    seed_names, cut = set(seeds), set(cuts)
    srcs = (sorted((root / "msstreamingstack_spark").rglob("*.py")) + [root / "__spark_entry__.py"]
            + sorted((root / "perfbench").rglob("*.py")))
    files = {".".join(p.relative_to(root).with_suffix("").parts).removesuffix(".__init__"): ast.parse(p.read_text())
             for p in srcs if not p.name.startswith("test")}
    test_names = _test_names(root)
    defs: dict[Key, ast.AST] = {}
    owner: dict[int, list[Key]] = {}
    for m, t in files.items():
        for n in t.body:
            if isinstance(n, (ast.FunctionDef, ast.ClassDef)):
                tg = [n]
            elif isinstance(n, (ast.Assign, ast.AnnAssign)):
                tg = getattr(n, "targets", [getattr(n, "target", None)])
            else:
                tg = []
            for x in (e for t in tg for e in getattr(t, "elts", [t])):   # unpack `A, B = ...`
                nm = getattr(x, "name", None) or getattr(x, "id", None)
                if nm:
                    defs[(m, nm)] = n
                    owner.setdefault(id(n), []).append((m, nm))
    byname: dict[str, set[Key]] = {}
    for k in defs:
        byname.setdefault(k[1], set()).add(k)

    def resolve(k):   # follow package re-exports: (pkg, name) -> (pkg.sub, name)
        if k in defs:
            return k
        return next(((s, k[1]) for s in files if s.startswith(k[0] + ".") and (s, k[1]) in defs), k)

    edges: dict[Key, set[Key]] = {}
    roots: set[Key] = set()
    seed_keys: set[Key] = set()
    for m, t in files.items():
        binds: dict[str, object] = {}
        for n in ast.walk(t):
            if isinstance(n, ast.ImportFrom) and n.module:
                src = n.module if not n.level else ".".join(m.split(".")[:-n.level] + [n.module])
                binds.update({a.asname or a.name: f"{src}.{a.name}" if f"{src}.{a.name}" in files else (src, a.name)
                              for a in n.names})
            elif isinstance(n, ast.Import):
                binds.update({a.asname or a.name.split(".")[0]: a.name if a.asname else a.name.split(".")[0]
                              for a in n.names})
        for n in t.body:
            r = set()
            for x in ast.walk(n):
                if isinstance(x, ast.Name):
                    b = binds.get(x.id)
                    r.add((m, x.id) if (m, x.id) in defs else b if isinstance(b, tuple) else None)
                elif isinstance(x, ast.Attribute):
                    b = binds.get(getattr(x.value, "id", None))
                    r |= {(b, x.attr)} if isinstance(b, str) else byname.get(x.attr, set())
            r = {resolve(k) for k in r if k}
            if (m.count(".") == 1 and isinstance(n, ast.ImportFrom)
                    and root.joinpath(*m.split("."), "__init__.py").exists()):
                r |= {resolve((n.module, a.name)) for a in n.names}   # package re-exports are public API
            ks = owner.get(id(n), [])
            if not ks:
                roots |= r
            for k in ks:
                edges[k] = r - {k}
                if _is_reg(n) and any(isinstance(d.args[0], ast.Constant) and d.args[0].value in seed_names
                                      for d in n.decorator_list if isinstance(d, ast.Call) and d.args):
                    seed_keys.add(k)
                elif _is_reg(n) or m == "__spark_entry__" or m.startswith("perfbench"):
                    roots.add(k)

    def live(rs, cut=()):
        seen, todo = set(), list(rs)
        while todo:
            k = todo.pop()
            if k in defs and k not in seen:
                seen.add(k)
                todo += [c for c in edges.get(k, ()) if f"{k[0]}.{k[1]}>{c[0]}.{c[1]}" not in cut]
        return seen

    tested = {k for k in defs if k[1] in test_names}
    return {
        "retire": sorted(live(roots | seed_keys) - live(roots, cut)),
        "test_only": sorted(set(defs) - live(roots | seed_keys)),
        "nobody": sorted(k for k in set(defs) - live(roots | seed_keys | tested) if not k[1].startswith("__")),
        "test_names": test_names,
    }


def main(argv: list[str]) -> None:
    root, seeds, cuts = argv[1], *(set(filter(None, a.split(","))) for a in argv[2:4])
    res = scan(root, seeds, cuts)
    mark = lambda nm: " +" if nm in res["test_names"] else ""
    print("retire with the seeds (+ = a test still names it):")
    print("\n".join(f"  {m}.{nm}{mark(nm)}" for m, nm in res["retire"]))
    print("only tests reach:")
    print("\n".join(f"  {m}.{nm}" for m, nm in res["test_only"]))
    print("no caller at all, not even a test:")
    print("\n".join(f"  {m}.{nm}" for m, nm in res["nobody"]))


if __name__ == "__main__":
    main(sys.argv)
