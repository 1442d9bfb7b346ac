"""Source guards. Stored state under ``streaming/`` opens through
``meta_io.open_parquet`` (footer schema, zero Spark jobs), never through
a schema-inferring ``spark.read…parquet(…)`` call: ``meta_io.py`` owns
the Spark fallback. And stored-state directory swaps go through
``commit.publish``: no other module under ``streaming/`` (nor
``extensions/ann.py``) renames or moves paths itself. And the LSM
bucket rule (``F.hash``) appears under ``streaming/`` only in
``lsm.py``, which the vector index uses instead of reaching into the
search index."""

import ast
import os

STREAMING = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "couch_to_postgres_spark",
    "streaming",
)


def _reads_spark(node: ast.AST) -> bool:
    """True for a receiver chain that reaches ``<x>.read`` before any
    ``.write`` (a write of a read frame is a write)."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute):
            if node.attr in ("read", "write"):
                return node.attr == "read"
            node = node.value
        else:
            node = node.func
    return False


def _direct_parquet_reads(source: str) -> dict[str, int]:
    """Count of ``….read….parquet(…)`` calls per enclosing top-level
    function (``<module>`` outside any)."""
    tree = ast.parse(source)
    out: dict[str, int] = {}

    def visit(node, owner):
        for child in ast.iter_child_nodes(node):
            name = owner
            if owner == "<module>" and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "parquet"
                and _reads_spark(child.func.value)
            ):
                out[name] = out.get(name, 0) + 1
            visit(child, name)

    visit(tree, "<module>")
    return out


def test_detector_sees_every_read_form():
    src = (
        "def f(spark, p):\n"
        "    a = spark.read.parquet(p)\n"
        "    b = spark.read.option('basePath', p)\n"
        "    c = b.parquet(p)\n"
        "    d = spark.read.schema('x int').parquet(p)\n"
        "    df.write.mode('overwrite').parquet(p)\n"
        "    spark.read.parquet(p).coalesce(1).write.parquet(p)\n"
    )
    # `b.parquet` hides its reader behind a name: three of the four
    # reads are visible, the writes never count
    assert _direct_parquet_reads(src) == {"f": 3}


def test_streaming_opens_stored_state_through_meta_io():
    found = {}
    for name in sorted(os.listdir(STREAMING)):
        if not name.endswith(".py") or name == "meta_io.py":
            continue
        with open(os.path.join(STREAMING, name)) as f:
            reads = _direct_parquet_reads(f.read())
        for owner, n in reads.items():
            found[(name, owner)] = n
    assert not found, (
        "open stored parquet state with meta_io.open_parquet / "
        f"try_open_parquet (zero-job footer schema): {found}"
    )


PACKAGE = os.path.dirname(STREAMING)

#: the moves only ``streaming/commit.py`` may make: every directory swap
#: of stored state goes through ``commit.publish`` (single-file
#: ``os.replace`` stays allowed)
_MOVES = {("os", "rename"), ("shutil", "move")}


def _raw_moves(source: str) -> list[int]:
    """Line numbers of ``os.rename``/``shutil.move`` references,
    imported names included."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and (node.value.id, node.attr) in _MOVES
        ) or (
            isinstance(node, ast.ImportFrom)
            and any((node.module, a.name) in _MOVES for a in node.names)
        ):
            lines.append(node.lineno)
    return sorted(lines)


def test_move_detector_sees_every_form():
    src = (
        "import os, shutil\n"
        "from os import rename\n"
        "os.rename(a, b)\n"
        "shutil.move(a, b)\n"
        "f = os.rename\n"
        "os.replace(a, b)\n"
    )
    assert _raw_moves(src) == [2, 3, 4, 5]


def test_directory_swaps_go_through_commit():
    files = [
        os.path.join(STREAMING, n)
        for n in sorted(os.listdir(STREAMING))
        if n.endswith(".py") and n != "commit.py"
    ] + [os.path.join(PACKAGE, "extensions", "ann.py")]
    found = {}
    for path in files:
        with open(path) as f:
            lines = _raw_moves(f.read())
        if lines:
            found[os.path.relpath(path, PACKAGE)] = lines
    assert not found, (
        "publish stored-state swaps with streaming.commit.publish, not a "
        f"raw rename/move: {found}"
    )


def _hash_calls(source: str) -> list[int]:
    """Line numbers of ``<module>.hash(…)`` calls (``F.hash``)."""
    return sorted(
        node.lineno
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "hash"
        and isinstance(node.func.value, ast.Name)
    )


def _imports_module(source: str, module: str) -> list[int]:
    """Line numbers of imports that name ``module`` (its dotted path's
    last part), in any import form."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""] + [
                f"{node.module}.{a.name}" for a in node.names
            ]
        else:
            continue
        if any(n.split(".")[-1] == module for n in names):
            lines.append(node.lineno)
    return sorted(set(lines))


def test_lsm_detectors_see_every_form():
    src = (
        "from pyspark.sql import functions as F\n"
        "F.pmod(F.hash('t'), F.lit(4))\n"
        "x.hash\n"
        "from couch_to_postgres_spark.streaming.search_stream import f\n"
        "from couch_to_postgres_spark.streaming import search_stream\n"
        "import couch_to_postgres_spark.streaming.search_stream as ss\n"
        "from couch_to_postgres_spark.streaming import lsm\n"
    )
    assert _hash_calls(src) == [2]
    assert _imports_module(src, "search_stream") == [4, 5, 6]


def test_bucket_rule_lives_in_lsm():
    """The ``pmod(hash(x), n)`` bucket rule has one owner,
    ``streaming/lsm.py``, and the vector index takes the shared LSM
    machinery from there, never from the search index."""
    found = {}
    for name in sorted(os.listdir(STREAMING)):
        if not name.endswith(".py") or name == "lsm.py":
            continue
        with open(os.path.join(STREAMING, name)) as f:
            lines = _hash_calls(f.read())
        if lines:
            found[name] = lines
    with open(os.path.join(STREAMING, "vector_stream.py")) as f:
        lines = _imports_module(f.read(), "search_stream")
    if lines:
        found["vector_stream.py imports search_stream"] = lines
    assert not found, (
        "bucket with lsm.bucket / lsm.term_buckets and take LSM helpers "
        f"from streaming.lsm: {found}"
    )
