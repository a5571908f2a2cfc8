"""`__spark_entry__`'s per-session frame caches across a session restart."""

import pathlib
import subprocess
import sys
import textwrap

from conftest import SF_DIR as SF

ROOT = pathlib.Path(__file__).resolve().parents[1]

# Every session reports the same id(), as when CPython hands a stopped,
# collected session's address to the next one.
_RESTART = textwrap.dedent(f"""
    import sys
    sys.path.insert(0, {str(ROOT)!r})
    from pyspark.sql import SparkSession
    import __spark_entry__ as m

    m.id = lambda obj: 1
    new = lambda: SparkSession.builder.master("local[1]").getOrCreate()
    a = new()
    stale = m._graph(a, {SF!r})
    m._events_projected(a, {SF!r}).count()
    a.stop()
    b = new()
    g = m._graph(b, {SF!r})
    assert g is not stale
    assert all(df.sparkSession is b for df in g.nodes.values())
    assert m._events_projected(b, {SF!r}).sparkSession is b
    assert m.entry(b).count() > 0
    b.stop()
    print("OK")
""")


def test_restarted_session_never_gets_a_stopped_sessions_frames():
    """Stop one session, start another in the same process: the caches
    build fresh frames on the new session, even when ids repeat."""
    r = subprocess.run([sys.executable, "-c", _RESTART], capture_output=True,
                       text=True, timeout=600, cwd=ROOT)
    assert r.returncode == 0 and r.stdout.strip().endswith("OK"), r.stderr[-2000:]
