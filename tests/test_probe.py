"""tools/probe.py: the inflated input layout, the linearity rule, and
the tools.* imports across tools/."""

import ast
import os

import pytest
from pyspark.sql import functions as F

from tools.probe import CPU_FLOOR_S, CPU_SMALL_S, LINEAR_SLACK, build_probe_dir, linear

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
SF = "/root/testdata/sf0.001"


@pytest.mark.skipif(not os.path.isdir(SF), reason="testdata absent")
def test_build_probe_dir_doubles_facts_and_keeps_keys_unique(spark, tmp_path):
    out = str(tmp_path / "x2")
    build_probe_dir(spark, SF, 2, out)

    def counts(d, t, key):
        df = spark.read.parquet(os.path.join(d, f"{t}.parquet"))
        return df.agg(F.count("*"), F.countDistinct(key)).first()

    for t, key in (
        ("events", "event_id"),
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("orders", "o_orderkey"),
        ("lineitem", "l_orderkey"),
    ):
        (n, n_keys), (got, got_keys) = counts(SF, t, key), counts(out, t, key)
        assert got == 2 * n, t
        # no two copies share a key
        assert got_keys == 2 * n_keys, t
        if t != "lineitem":
            assert got_keys == got, t
    for t in ("region", "nation", "customer", "supplier", "part"):
        link = os.path.join(out, f"{t}.parquet")
        assert os.path.islink(link), t
        assert os.readlink(link) == os.path.join(SF, f"{t}.parquet")


def test_linear_rule_on_canned_counters():
    factor = 4
    base = 2.0
    ratio, ok = linear(base, base * factor, factor, CPU_FLOOR_S, CPU_SMALL_S)
    assert ok and ratio == pytest.approx(
        (base * factor - CPU_FLOOR_S) / (base - CPU_FLOOR_S)
    )
    ratio, ok = linear(base, base * factor**2, factor, CPU_FLOOR_S, CPU_SMALL_S)
    assert not ok and ratio > factor * LINEAR_SLACK
    # a base inside the floor has no ratio; the absolute bound decides
    tiny = CPU_FLOOR_S + CPU_SMALL_S / 2
    bound = CPU_FLOOR_S + factor * CPU_SMALL_S * LINEAR_SLACK
    assert linear(tiny, bound, factor, CPU_FLOOR_S, CPU_SMALL_S) == (None, True)
    assert linear(tiny, bound * 1.01, factor, CPU_FLOOR_S, CPU_SMALL_S) == (None, False)
    # no shuffle at either size
    assert linear(0, 0, factor, 0, 1 << 20) == (None, True)


def _top_level_names(path):
    names = set()
    for node in ast.parse(open(path, encoding="utf-8").read()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name))
    return names


def test_tools_imports_resolve():
    """Every ``tools.X`` import in tools/*.py, lazy ones inside functions
    included, names an existing module and a symbol it defines."""
    bad = []
    for f in sorted(os.listdir(TOOLS)):
        if not f.endswith(".py"):
            continue
        for node in ast.walk(ast.parse(open(os.path.join(TOOLS, f), encoding="utf-8").read())):
            if isinstance(node, ast.ImportFrom) and node.module == "tools":
                mods = [(a.name, []) for a in node.names]
            elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith("tools."):
                mods = [(node.module[6:], [a.name for a in node.names])]
            elif isinstance(node, ast.Import):
                mods = [(a.name[6:], []) for a in node.names if a.name.startswith("tools.")]
            else:
                continue
            for mod, symbols in mods:
                path = os.path.join(TOOLS, *mod.split(".")) + ".py"
                if not os.path.exists(path):
                    bad.append(f"{f}:{node.lineno} tools.{mod}")
                    continue
                defined = _top_level_names(path)
                bad += [f"{f}:{node.lineno} tools.{mod}.{s}" for s in symbols if s not in defined]
    assert not bad
