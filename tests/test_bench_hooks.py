"""The traced benchmark run wraps package functions by module and name
(``perfbench/serve.py`` and ``perfbench/batch.py``, ``instrument_layers``).
A deleted or renamed function breaks only that run, so this test installs
both workloads' wrappers with an enabled tracer against the package. It
runs in a subprocess because the wrappers replace module attributes."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path[:0] = [{root!r}, {bench!r}]
    import batch
    import common
    import serve
    from spans import Tracer

    pkg = common.import_package({root!r})
    tracer = Tracer(enabled=True)
    serve.instrument_layers(tracer, pkg)
    batch.instrument_layers(tracer, pkg, batch._mods(pkg))
    wrapped = {{
        (mod.__name__, name)
        for mod in list(sys.modules.values())
        if getattr(mod, "__name__", "").startswith(pkg.__name__)
        for name, fn in list(vars(mod).items())
        if getattr(fn, "__perfbench_wrapped__", False)
    }}
    print(len(wrapped))
    """
)


def test_benchmark_layer_hooks_resolve():
    proc = subprocess.run(
        [sys.executable, "-c",
         SCRIPT.format(root=ROOT, bench=os.path.join(ROOT, "perfbench"))],
        capture_output=True, text=True, timeout=300, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # a tracer that installed nothing would pass vacuously
    assert int(proc.stdout.split()[-1]) > 0, proc.stdout
