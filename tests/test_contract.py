"""Driver-contract shape guards: the correctness driver checks only the
FIRST 50 entries of queries() in dict order, so ordering is load-bearing;
and every query must have a DuckDB oracle twin with aligned columns."""

import functools

import __spark_entry__ as e

NORTH_STAR = [
    "sessionize_events",
    "pipeline_clean_corpus",
    "dedup_exact",
    "dedup_minhash",
    "dedup_minhash_verified",
    "dedup_embedding_bucketed",
    "knn_brute",
    "knn_ivf",
    "embedding_stats",
    "token_topk_lang",
    "budget_select_langs",
    "length_filter_langs",
    "dup_cluster_histogram",
    "mixture_resample_langs",
    "pack_sequences_bins",
    "train_test_split",
]


def test_north_star_inside_driver_window():
    window = list(e.queries().keys())[:50]
    missing = [q for q in NORTH_STAR if q not in window]
    assert not missing, f"north-star queries outside the 50-entry window: {missing}"


def test_every_query_has_an_oracle():
    q = set(e.queries().keys())
    o = set(e.oracle_sql().keys())
    assert o <= q, f"oracles without queries: {sorted(o - q)}"
    assert q <= o, f"queries without oracles: {sorted(q - o)}"


def test_oracle_sql_is_expanded():
    # prnd() placeholders must be expanded to engine-portable floor form
    for name, sql in e.oracle_sql().items():
        assert "prnd(" not in sql, f"{name}: unexpanded prnd()"


def test_no_risky_duckdb_output_types(request):
    """No oracle may output HUGEINT/DECIMAL/U*INT columns: pandas-path
    fetching coerces them to float64/object, so a driver that fetches via
    pandas hashes 5.0 where Spark emits 5 (the sessionize_events
    rounds-1..3 hash_match=false root cause). DuckDB-only — fast."""
    import os

    import duckdb

    from tests.oracle_harness import TABLES, risky_oracle_types

    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    # csv_roundtrip_agg's oracle BINDS against runtime-staged part files
    # (the gate query writes them eagerly before any oracle runs in the
    # driver/harness flow, but this DuckDB-only test binds cold). Stage
    # them lazily so the type check still covers that oracle.
    if not os.path.exists(e._CSV_GATE_DIR):
        e.queries()["csv_roundtrip_agg"](
            request.getfixturevalue("spark"), sf_dir
        )
    if not os.path.exists(e._JSONL_GATE_DIR):
        e.queries()["jsonl_roundtrip_agg"](
            request.getfixturevalue("spark"), sf_dir
        )
    bad = {}
    for name, sql in e.oracle_sql().items():
        flagged = risky_oracle_types(con, sql)
        if flagged:
            bad[name] = flagged
    assert not bad, f"oracles with pandas-coerced output types: {bad}"


def _driver_green_rounds() -> dict[str, int]:
    """Per-query count of triple-green (rows+schema+hash, no err)
    appearances across all committed CORRECTNESS_r*.json driver records."""
    import glob
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    records = sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")))
    assert records, "no driver correctness records committed"
    green: dict[str, int] = {}
    for path in records:
        for name, res in json.load(open(path)).items():
            if (
                res.get("rows_match")
                and res.get("schema_match")
                and res.get("hash_match")
                and not res.get("err")
            ):
                green[name] = green.get(name, 0) + 1
    return green


def test_all_query_outputs_are_atomic_typed(spark, sf_dir):
    """r5 driver red root cause: an array<double> output column crashed
    the driver's pandas canonicalizer (numpy arrays are unhashable, so
    its sort-then-hash dies before any comparison). Guard every contract
    query: the OUTPUT schema must be atomic-typed — no array/map/struct
    columns may reach the driver. (Library APIs may still return arrays;
    contract queries must explode/serialize them.)"""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = {}
    for name, fn in e.queries().items():
        df = fn(spark, sf_dir)
        nested = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if nested:
            bad[name] = nested
    assert not bad, f"driver-unsortable nested output columns: {bad}"


def test_rotation_policy_window_is_packed():
    """Enforced rotation invariant (r4 verdict #4): driver-green is the
    only fully-adversarial signal, so a query with fewer than two
    driver-green rounds may sit OUTSIDE the 50-entry window only while
    every non-north-star window slot is spent on another under-proven
    query (the window is packed — nobody waits behind an
    already-proven occupant). Once the catalog is 2x-proven this is
    vacuous; until then it forces the window to keep rotating through
    the unproven tail instead of parking it."""
    green = _driver_green_rounds()
    allq = list(e.queries().keys())
    window, outside = allq[:50], allq[50:]
    unproven_outside = [q for q in outside if green.get(q, 0) < 2]
    if unproven_outside:
        slack = [
            q
            for q in window
            if q not in NORTH_STAR and green.get(q, 0) >= 2
        ]
        assert not slack, (
            f"window slots wasted on already-proven {slack} while "
            f"{unproven_outside} wait outside unproven"
        )


# -- reachability: every package function is reached by code outside tests/

# Package functions, classes and constants that no code outside tests/
# reaches, each with the reason it stays. Keys are "<module path>::<name>".
UNREACHED_SURVIVORS = {
    "datamancer_spark/operators/bpe.py::byte_bpe_decode_tokens": (
        "the decoder the encoders' round-trip tests in tests/test_bpe.py "
        "compare against (a reference implementation)"
    ),
    "datamancer_spark/operators/bpe.py::GPT2_PRETOKEN_PATTERN": (
        "the published GPT-2 regex that tests/test_bpe.py checks the "
        "hand-rolled pretokenizer against"
    ),
    **{
        f"datamancer_spark/plans/__init__.py::{fn}": (
            "plan predicate of the plan tests; ROADMAP item 1 reworks plans"
        )
        for fn in (
            "has_partial_aggregation",
            "has_partition_filter",
            "has_pushed_filter",
            "scan_columns",
            "uses_broadcast_join",
        )
    },
}


def _names_used(node) -> set[str]:
    """Identifiers a node reads as code: loaded names, attribute names
    and imported names. Assigned names, docstrings and comments never
    count."""
    import ast

    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rsplit(".", 1)[-1])
    return used


def _defined(st) -> list[str]:
    """The names a top-level package statement defines as graph nodes:
    a function, a class, or a plain assignment to names or tuples of
    names (dunders excluded). Any other statement defines none."""
    import ast

    if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [st.name]
    if isinstance(st, ast.Assign):
        targets = st.targets
    elif isinstance(st, ast.AnnAssign) and st.value is not None:
        targets = [st.target]
    else:
        return []
    names = []
    for t in targets:
        for n in t.elts if isinstance(t, (ast.Tuple, ast.List)) else [t]:
            if not isinstance(n, ast.Name) or n.id.startswith("__"):
                return []
            names.append(n.id)
    return names


@functools.cache
def _code_graph() -> tuple[dict[str, tuple[str, frozenset[str]]], frozenset[str]]:
    """Parse every .py file outside tests/ once: the top-level package
    functions, classes and constants (key -> (name, names it uses)) and
    the names that all other module-level code uses (queries, perfbench,
    tools, package imports and tables), which are the roots."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    bodies: dict[str, tuple[str, frozenset[str]]] = {}
    roots: set[str] = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root)
        if rel.parts[0] == "tests" or any(p.startswith(".") for p in rel.parts):
            continue
        in_pkg = rel.parts[0] == "datamancer_spark"
        for st in ast.parse(path.read_text()).body:
            names = _defined(st) if in_pkg else []
            for name in names:
                bodies[f"{rel.as_posix()}::{name}"] = (
                    name, frozenset(_names_used(st))
                )
            if not names:
                roots |= _names_used(st)
    return bodies, frozenset(roots)


def _unreached(kept: frozenset[str] = frozenset()) -> set[str]:
    """Top-level package functions, classes and constants that no code
    outside tests/ reaches.

    A node is reached once a root or a reached node names it, iterated
    to a fixpoint, so a function called only by unreached functions is
    itself unreached. Nodes in ``kept`` count as reached. Matching is by
    name, so two nodes that share a name are reached together."""
    bodies, roots = _code_graph()
    reached = set(roots) | {bodies[k][0] for k in kept}
    while True:
        grown = set(reached)
        for name, used in bodies.values():
            if name in reached:
                grown |= used
        if grown == reached:
            break
        reached = grown
    return {k for k, (name, _) in bodies.items() if name not in reached}


def test_every_package_function_is_reached_or_a_named_survivor():
    """The public functions, classes and constants no query, perfbench
    step or tool reaches are exactly the named survivors, and nothing
    else (no private helper either) is unreached once the survivors are
    kept."""
    survivors = frozenset(UNREACHED_SURVIVORS)
    public = {k for k in _unreached() if not k.rsplit("::", 1)[1].startswith("_")}
    assert public == survivors, (
        f"unreached, not named: {sorted(public - survivors)}; "
        f"named, but reached or gone: {sorted(survivors - public)}"
    )
    assert _unreached(survivors) == set(), sorted(_unreached(survivors))
