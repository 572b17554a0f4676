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

_PENDING = (
    "no query reaches it; ROADMAP item 13 decides it (delete it with "
    "its tests, or keep it with a reason)"
)

# Package functions that no code outside tests/ reaches, each with the
# reason it stays. Keys are "<module path>::<function>".
UNREACHED_SURVIVORS = {
    **{
        f"datamancer_spark/operators/bpe.py::{fn}": (
            "the decoder the encoders' round-trip tests in "
            "tests/test_bpe.py compare against (a reference implementation)"
        )
        for fn in ("bpe_decode_tokens", "byte_bpe_decode_tokens")
    },
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
    **{
        f"datamancer_spark/{path}::{fn}": _PENDING
        for path, fns in {
            "functions/typed.py": ["define_column_type"],
            "functions/udtf.py": ["sentence_split_native"],
            "operators/bpe.py": [
                "bpe_encode", "bpe_exact_token_count", "train_bpe",
            ],
            "operators/classify.py": ["train_hashed_classifier"],
            "operators/dedup.py": ["minhash_band_index"],
            "operators/multimodal.py": [
                "dhash_band_index", "dhash_scalar_udf", "mp4_metadata_blob",
                "png_decode_pixels", "sample_frames", "video_metadata",
                "wav_metadata", "webm_metadata",
            ],
            "operators/quality.py": ["hot_window_index"],
            "operators/sampling.py": ["histogram"],
            "operators/scrub.py": ["extract_urls", "fix_mojibake_full"],
            "operators/similarity.py": ["knn_pq_rerank", "train_pq_codebooks"],
            "streaming/__init__.py": [
                "session_agg", "streaming_fuzzy_screen",
                "streaming_media_screen", "streaming_span_hits",
            ],
        }.items()
        for fn in fns
    },
}


def _names_used(node) -> set[str]:
    """Identifiers a node references as code: names, attribute names and
    imported names. Docstrings and comments never count."""
    import ast

    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.alias):
            used.add(n.name.rsplit(".", 1)[-1])
    return used


@functools.cache
def _code_graph() -> tuple[dict[str, tuple[str, frozenset[str]]], frozenset[str]]:
    """Parse every .py file outside tests/ once: the top-level package
    functions (key -> (name, names its body uses)) and the names that
    module-level code uses (queries, perfbench, tools, package imports
    and tables), which are the roots."""
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
            if in_pkg and isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                bodies[f"{rel.as_posix()}::{st.name}"] = (
                    st.name, frozenset(_names_used(st))
                )
            else:
                roots |= _names_used(st)
    return bodies, frozenset(roots)


def _unreached(kept: frozenset[str] = frozenset()) -> set[str]:
    """Top-level package functions that no code outside tests/ reaches.

    A function is reached once a root or a reached body names it,
    iterated to a fixpoint, so a function called only by unreached
    functions is itself unreached. Functions in ``kept`` count as
    reached. Matching is by name, so two functions that share a name
    are reached together."""
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
    """The public functions no query, perfbench step or tool reaches are
    exactly the named survivors, and nothing else (no private helper
    either) is unreached once the survivors are kept."""
    survivors = frozenset(UNREACHED_SURVIVORS)
    public = {k for k in _unreached() if not k.rsplit("::", 1)[1].startswith("_")}
    assert public == survivors, (
        f"unreached, not named: {sorted(public - survivors)}; "
        f"named, but reached or gone: {sorted(survivors - public)}"
    )
    assert _unreached(survivors) == set(), sorted(_unreached(survivors))
