"""Session helpers (gazetteer_spark/session.py): literal frames through Arrow."""

from __future__ import annotations

import ast
import pathlib

import pytest

from gazetteer_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "gazetteer_spark"

LITERAL_TABLES = [
    ("query_id int, term string, df long",
     [(1, "alpha", 5), (2, None, 2 ** 40), (-3, "ß", None)]),
    ("rank int, vec_id long, sim double", [(1, 7, 0.25), (2, 9, -1.5)]),
    ("query_id int, qvec array<double>, excl long",
     [(0, [1.0, -2.5], None), (1, [], 4)]),
    ("word_id int, word string, max_edits int", []),
    ("docid long", []),
    ("docid long", [(d,) for d in range(5)]),
]


@pytest.mark.parametrize("ddl,rows", LITERAL_TABLES)
def test_local_frame_equals_create_dataframe(spark, ddl, rows):
    """Same schema and same rows as the Python-list path, empty frames
    included (an empty frame keeps its column types)."""
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_takes_rows(spark):
    """Collected Rows (highlight, prefix expansion) round-trip."""
    rows = spark.createDataFrame([("a", 1), ("b", 2)],
                                 "term string, df long").collect()
    assert local_frame(spark, rows, "term string, df long").collect() == rows


@pytest.mark.parametrize("ddl,row", [
    ("query_id int, term string", (2 ** 31, "x")),
    ("docid long", (2 ** 63,)),
    ("docid long", (1.5,)),
])
def test_local_frame_overflow_raises(spark, ddl, row):
    """A value that does not fit its column type raises on both paths."""
    with pytest.raises((ValueError, TypeError, OverflowError)):
        spark.createDataFrame([row], ddl).collect()
    with pytest.raises((ValueError, TypeError, OverflowError)):
        local_frame(spark, [row], ddl).collect()


def test_local_frame_row_width_checked(spark):
    with pytest.raises(ValueError, match="schema has 2"):
        local_frame(spark, [(1, "a", 3)], "query_id int, term string")


def test_local_frame_starts_no_task(spark):
    """Collecting a literal frame, empty or not, runs no Spark job."""
    import uuid

    sc = spark.sparkContext
    group = f"local-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        local_frame(spark, [], "docid long").collect()
        local_frame(spark, [(1, "a")], "query_id int, term string").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


# the only createDataFrame calls allowed in the package: the helper
# itself, and the test corpus generator, which builds its frame from an RDD
CREATE_DATAFRAME_ALLOWED = {("session.py", "local_frame"),
                            ("corpus.py", "source_files")}


def _create_dataframe_calls(tree, rel):
    """(file, enclosing function, call node) of every createDataFrame."""
    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from walk(child, child.name)
                continue
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"):
                yield rel, fn, child
            yield from walk(child, fn)
    return list(walk(tree, None))


def test_no_list_built_frames_in_engine():
    """Every driver-built literal table goes through session.local_frame:
    a ``createDataFrame`` call anywhere else in the package would bring
    back the Python tasks a list-built frame starts. Spark-free (ast)."""
    calls = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        calls += _create_dataframe_calls(
            ast.parse(path.read_text(), filename=rel), rel)
    offenders = [f"{rel}:{node.lineno} in {fn}" for rel, fn, node in calls
                 if (rel, fn) not in CREATE_DATAFRAME_ALLOWED]
    assert not offenders, offenders
    # the generator's call ships an RDD, not a list
    (gen,) = [node for rel, fn, node in calls if rel == "corpus.py"]
    assert isinstance(gen.args[0], ast.Name) and gen.args[0].id == "rdd"
