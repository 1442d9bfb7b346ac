"""Examples must not rot (VERDICT r03 #7): every walkthrough under
examples/ runs end-to-end at sf0.001 and exits 0. Each example builds its
own SparkSession in a subprocess, so these are true from-scratch drives of
the public API surface — exactly what a reader would paste into a shell."""

import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"

# (script, argv, extra env) — each example picks up sf_dir its own way
EXAMPLES = [
    ("examples/prepare_corpus.py", [SF], {}),
    ("examples/replicate_and_query.py", [SF], {}),
    ("examples/search_and_curate.py", [], {"SPARK_GRAFT_SF_DIR": SF}),
    ("examples/live_daemon_operations.py", [], {}),
    ("examples/incremental_indexes.py", [], {"SPARK_GRAFT_SF_DIR": SF}),
    ("examples/select_training_mix.py", [], {"SPARK_GRAFT_SF_DIR": SF}),
    ("examples/monitor_and_reconcile.py", [], {"SPARK_GRAFT_SF_DIR": SF}),
    ("examples/phrase_and_reservoir.py", [], {"SPARK_GRAFT_SF_DIR": SF}),
    ("examples/indexed_search_operations.py", [], {"SPARK_GRAFT_SF_DIR": SF}),
    ("examples/live_vector_search.py", [], {"SPARK_GRAFT_SF_DIR": SF}),
    ("examples/cost_gated_search.py", [], {"SPARK_GRAFT_SF_DIR": SF}),
]


def test_every_example_has_a_smoke_entry():
    on_disk = sorted(
        f for f in os.listdir(os.path.join(REPO, "examples")) if f.endswith(".py")
    )
    covered = sorted(os.path.basename(s) for s, _, _ in EXAMPLES)
    assert on_disk == covered, f"example not smoke-tested: {set(on_disk) - set(covered)}"


@pytest.mark.parametrize("script,argv,env", EXAMPLES, ids=lambda v: v if isinstance(v, str) else "")
def test_example_runs_clean(script, argv, env, tmp_path):
    proc = subprocess.run(
        [sys.executable, script, *argv],
        cwd=REPO,
        env={**os.environ, **env, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, (
        f"{script} exited {proc.returncode}\n"
        f"--- stdout tail ---\n{proc.stdout[-2000:]}\n"
        f"--- stderr tail ---\n{proc.stderr[-2000:]}"
    )
    # the example removes every work directory it made
    with open(os.path.join(REPO, script)) as f:
        prefixes = re.findall(r'mkdtemp\(prefix="([^"]+)"\)', f.read())
    left = [n for n in os.listdir(tmp_path) if n.startswith(tuple(prefixes))]
    assert not left, f"{script} left its work directories: {left}"
