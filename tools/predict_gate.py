"""Keep the correctness-gate ledger current and predict the gate's slice.

The driver checks a 50-row budget per round in ``queries()`` order.
``__spark_entry__._ordered_names`` derives that order from
``GATE_LEDGER.json``, which maps each oracle-backed query that a driver
record verified to ``{fingerprint, green_round}``: queries without an
entry come first, then the entries, stalest ``green_round`` first.

A fingerprint is the sha256 of the query's analyzed plan at sf0.001
and its oracle SQL.  The plan text is normalized: the session counters
(expression ids, lambda variables, CTE ids, temporary view names) are
renumbered in order of first appearance, the partition counts that
follow the core count are dropped, and the reference path derived from
the checkout is replaced.  Plan text does not show what runs behind a
checkpoint (``LogicalRDD``), inside local data or inside a Python
kernel, so for such plans the fingerprint also hashes the package
source the builder reaches: every top-level function, class and
assignment whose name a reached body uses, transitively, as
``ast.dump`` with docstrings and ``doc=`` texts dropped.

Usage:
  python tools/predict_gate.py
      # rebuild the entries' fingerprints, drop the changed ones,
      # write the ledger and print the predicted slice
  python tools/predict_gate.py CORRECTNESS_r17.json
      # compare a landed driver record with the slice the ledger
      # predicts; then drop the changed entries, add the record's
      # all-green queries at round 17 and drop its red ones
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry  # noqa: E402
from greenbuttonengine_spark.sources.catalog import DEFAULT_SF_DIR  # noqa: E402

BUDGET = 50
# the smoke scale, a sibling of the default tables (the tests' built_queries scale)
SF_DIR = str(Path(DEFAULT_SF_DIR).with_name("sf0.001"))

_COUNTERS = (
    re.compile(r"#(\d+)"),
    re.compile(r"\blambda [A-Za-z]\w*?_(\d+)\b"),
    re.compile(r"\bCTERelation(?:Def|Ref) (\d+)"),
    re.compile(r"\b_pyspark_([0-9a-f]{32})\b"),
)
_CORES = re.compile(r"(\bRepartition |\bsplits=Some\()\d+")
_HIDDEN = re.compile(
    r"\b(LogicalRDD|LocalRelation|MapIn(Pandas|Arrow)|FlatMap\w*In(Pandas|Arrow))\b"
    r"|\)#\d"  # a Python UDF call carries its result id
)


def _renumber(pattern: re.Pattern, text: str) -> str:
    seen: dict[str, int] = {}

    def sub(m: re.Match) -> str:
        s, e = m.start(1) - m.start(), m.end(1) - m.start()
        return m.group(0)[:s] + str(seen.setdefault(m.group(1), len(seen))) + m.group(0)[e:]

    return pattern.sub(sub, text)


def normalized_plan(df) -> str:
    # plan text cuts field lists and array literals at this many entries
    conf, key = df.sparkSession.conf, "spark.sql.debug.maxToStringFields"
    old = conf.get(key)
    conf.set(key, str(2**31 - 1))
    try:
        text = df._jdf.queryExecution().analyzed().toString()
    finally:
        conf.set(key, old)
    for pattern in _COUNTERS:
        text = _renumber(pattern, text)
    return _CORES.sub(r"\g<1>?", text)


def _is_docstring(node: ast.stmt) -> bool:
    return isinstance(node, ast.Expr) and isinstance(getattr(node.value, "value", None), str)


class _Source:
    """The package's top-level functions, classes and assignments, by
    the names they bind, with docstrings and ``doc=`` texts dropped."""

    def __init__(self):
        self.defs: dict[str, list[tuple[str, ast.AST]]] = {}
        for path in sorted((REPO / "greenbuttonengine_spark").rglob("*.py")):
            tree = ast.parse(path.read_text())
            for node in ast.walk(tree):
                body = getattr(node, "body", None)
                if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and _is_docstring(body[0]):
                    node.body = body[1:] or [ast.Pass()]
                elif isinstance(node, ast.Call):
                    node.keywords = [k for k in node.keywords if k.arg != "doc"]
            module = path.relative_to(REPO).as_posix()
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                    names = [node.name]
                elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                    names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
                else:
                    continue
                for name in names:
                    self.defs.setdefault(name, []).append((module, node))

    def reached(self, fn) -> list[str]:
        """``module:ast.dump`` of each definition the builder ``fn`` reaches."""
        module = Path(inspect.getsourcefile(fn)).resolve().relative_to(REPO).as_posix()
        todo = [(m, d) for m, d in self.defs[fn.__name__] if m == module]
        seen = {id(d): (m, d) for m, d in todo}
        while todo:
            for node in ast.walk(todo.pop()[1]):
                name = node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)
                for m, d in self.defs.get(name, ()):
                    if id(d) not in seen:
                        seen[id(d)] = (m, d)
                        todo.append((m, d))
        return sorted(f"{m}:{ast.dump(d)}" for m, d in seen.values())


def fingerprints(built: dict) -> dict[str, str]:
    """name -> fingerprint of each built oracle-backed query (name -> DataFrame)."""
    from greenbuttonengine_spark.plans.advanced_queries import REFERENCE

    reg = entry._registry()
    source = _Source()
    out = {}
    for name, df in built.items():
        parts = [normalized_plan(df), reg.ORACLES[name].replace(REFERENCE, "<reference>")]
        if _HIDDEN.search(parts[0]):
            parts += source.reached(reg.QUERIES[name].fn)
        out[name] = hashlib.sha256("\0".join(parts).encode()).hexdigest()
    return out


def _green(row: dict) -> bool:
    return bool(row["rows_match"] and row["schema_match"] and row["hash_match"]) and not row["err"]


def _build(names) -> dict[str, str]:
    from greenbuttonengine_spark.session import get_spark

    spark = get_spark(app_name="predict-gate", shuffle_partitions=8)
    qs = entry.queries()
    try:
        return fingerprints({n: qs[n](spark, SF_DIR) for n in qs if n in names})
    finally:
        spark.stop()


def main() -> int:
    reg = entry._registry()
    ledger = json.loads(entry._LEDGER.read_text())
    record, ok = {}, True
    if len(sys.argv) > 1:
        path = Path(sys.argv[1])
        record = json.loads(path.read_text())
        pred = entry._ordered_names(reg)[:BUDGET]
        ok = pred == list(record)
        print(json.dumps({"match": ok, "n_predicted": len(pred),
                          "n_actual": len(record),
                          "only_in_prediction": [n for n in pred if n not in record],
                          "only_in_actual": [n for n in record if n not in pred]}))
    greens = {n for n, row in record.items() if _green(row) and n in reg.ORACLES}
    now = _build(set(ledger) | greens)
    dropped = sorted(
        n for n in ledger
        if n not in greens and (n in record or now.get(n) != ledger[n]["fingerprint"])
    )
    ledger = {n: v for n, v in ledger.items() if n not in dropped}
    if greens:
        green_round = int(re.search(r"_r(\d+)\.json$", path.name).group(1))
        ledger |= {n: {"fingerprint": now[n], "green_round": green_round} for n in greens}
    entry._LEDGER.write_text(json.dumps(ledger, indent=1, sort_keys=True) + "\n")
    print(json.dumps({"dropped": dropped, "predicted": entry._ordered_names(reg)[:BUDGET]}))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
