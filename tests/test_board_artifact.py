"""Board invariants: the committed full-board correctness artifact must
cover exactly the current queries() board (VERDICT r4 #1), and no board
key, oracle or package-level function may be silently shadowed."""

from __future__ import annotations

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _duplicates(names) -> list[str]:
    return sorted(n for n, c in collections.Counter(names).items() if c > 1)


def _board_keys(fn: ast.FunctionDef) -> list[str]:
    """Every string key ``fn`` binds: dict-literal keys plus the targets
    of ``name[...] = ...`` subscript assignments."""
    keys = []
    for node in ast.walk(fn):
        if isinstance(node, ast.Dict):
            keys += [
                k.value
                for k in node.keys
                if isinstance(k, ast.Constant) and isinstance(k.value, str)
            ]
        elif isinstance(node, ast.Assign):
            keys += [
                t.slice.value
                for t in node.targets
                if isinstance(t, ast.Subscript)
                and isinstance(t.slice, ast.Constant)
                and isinstance(t.slice.value, str)
            ]
    return keys


def test_no_shadowed_board_keys_or_defs():
    """A second binding of a board key or a top-level name silently wins
    over the first, so the first is dead code that still reads as live
    (two ``triangle_count`` operators once shared one board key)."""
    entry = ast.parse((ROOT / "__spark_entry__.py").read_text())
    fns = {
        f.name: f
        for f in entry.body
        if isinstance(f, ast.FunctionDef) and f.name in ("queries", "oracle_sql")
    }
    assert set(fns) == {"queries", "oracle_sql"}
    for name, fn in fns.items():
        dups = _duplicates(_board_keys(fn))
        assert not dups, f"{name}() binds these keys twice: {dups}"

    shadowed = {}
    for path in sorted((ROOT / "ocr_spark").rglob("*.py")):
        defs = [
            n.name
            for n in ast.parse(path.read_text()).body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        ]
        if dups := _duplicates(defs):
            shadowed[str(path.relative_to(ROOT))] = dups
    assert not shadowed, f"top-level defs defined twice: {shadowed}"


def test_board_artifact_covers_every_query():
    """Sweep-last invariant (VERDICT r4 §next-round #1): the committed
    full-board correctness artifact must cover EXACTLY the current
    ``queries()`` board — a query added after the sweep ran has no
    committed correctness row, and a removed query leaves a stale one.
    Regenerate with
    ``python tools/check_correctness.py --json CHECK_FULL_r05.json``
    whenever the board changes; the sweep must be the round's last
    commit."""
    import json
    import re as _re

    arts = sorted(
        ROOT.glob("CHECK_FULL_r*.json"),
        key=lambda p: int(_re.search(r"r(\d+)", p.name).group(1)),
    )
    assert arts, "no CHECK_FULL_r*.json board artifact committed"
    art = arts[-1]
    payload = json.loads(art.read_text())
    recorded = set(payload["queries"].keys())

    import __spark_entry__ as entrymod

    board = set(entrymod.queries().keys())
    missing = sorted(board - recorded)
    stale = sorted(recorded - board)
    assert not missing and not stale, (
        f"{art.name} drifted from the board: "
        f"missing rows for {missing}; stale rows for {stale}"
    )