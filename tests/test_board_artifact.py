"""Board invariants: the committed full-board correctness artifact must
cover exactly the current queries() board (VERDICT r4 #1), no board
key, oracle or package-level function may be silently shadowed, and no
two board queries may share one oracle."""

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


# The one oracle that may alias another.  The persisted-index ANN returns
# exactly ivf_topk's rows, but reaches them through the list_id-partitioned
# index on disk; what it adds over ann_ivf_topk is partition pruning, which
# tests/test_plans.py::test_ivf_indexed_scan_prunes_partitions pins.
ALLOWED_ORACLE_ALIASES = {"ann_ivf_indexed_topk": "ann_ivf_topk"}


def test_no_aliased_oracles():
    """Two board queries checked by the same oracle compute one result
    twice, so one of them is a duplicate board entry (prefix_filter_jaccard
    once re-ran ngram_jaccard_all_pairs under ngram_jaccard_all_pairs'
    oracle).  Rejects ``sql[a] = sql[b]`` aliases and any two oracles
    with identical SQL text, except ALLOWED_ORACLE_ALIASES."""
    entry = ast.parse((ROOT / "__spark_entry__.py").read_text())
    (fn,) = [
        f
        for f in entry.body
        if isinstance(f, ast.FunctionDef) and f.name == "oracle_sql"
    ]
    aliases = {
        t.slice.value: node.value.slice.value
        for node in ast.walk(fn)
        if isinstance(node, ast.Assign)
        and isinstance(node.value, ast.Subscript)
        and isinstance(node.value.slice, ast.Constant)
        for t in node.targets
        if isinstance(t, ast.Subscript) and isinstance(t.slice, ast.Constant)
    }
    assert aliases == ALLOWED_ORACLE_ALIASES

    import __spark_entry__ as entrymod

    by_text = collections.defaultdict(list)
    for name, text in entrymod.oracle_sql().items():
        by_text[text].append(name)
    shared = sorted(sorted(ns) for ns in by_text.values() if len(ns) > 1)
    assert shared == [sorted(p) for p in ALLOWED_ORACLE_ALIASES.items()]


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