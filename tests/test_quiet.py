"""``quiet.quiet_window``, the bench-only bounded loadavg wait kept out
of the library's import graph."""

import subprocess
import sys
import time
from pathlib import Path

from deep_query_optimization_spark import quiet


def test_library_does_not_import_quiet():
    """Timing, generation and training never consult box state: the
    quiet-window module stays unloaded after importing them."""
    code = (
        "import sys\n"
        "import deep_query_optimization_spark.engine\n"
        "import deep_query_optimization_spark.lab\n"
        "import deep_query_optimization_spark.generator.guided\n"
        "import deep_query_optimization_spark.estimator.model\n"
        "print('deep_query_optimization_spark.quiet' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False"


def test_quiet_window_wait_is_bounded_and_yields_load(monkeypatch):
    monkeypatch.setattr(quiet, "_read_loadavg", lambda: 50.0)
    t0 = time.monotonic()
    with quiet.quiet_window(wait_for_load=2.0, wait_timeout_s=0.3) as load:
        waited = time.monotonic() - t0
    assert load == 50.0
    assert 0.3 <= waited < 1.5  # the last poll is cut to the time left

    # a calm box passes straight through
    monkeypatch.setattr(quiet, "_read_loadavg", lambda: 0.5)
    t0 = time.monotonic()
    with quiet.quiet_window(wait_for_load=2.0, wait_timeout_s=60.0) as load:
        assert time.monotonic() - t0 < 1.0
    assert load == 0.5
