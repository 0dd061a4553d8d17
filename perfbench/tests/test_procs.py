"""procs.stop_descendants leaves no process of the run behind."""

import subprocess
import sys

import procs


def test_stops_children_and_orphaned_grandchildren():
    procs.become_subreaper()
    # a child that starts a long-running grandchild and exits at once,
    # so the grandchild is orphaned, as a JVM's worker is when the JVM exits
    subprocess.run([sys.executable, "-c",
                    "import subprocess, sys; subprocess.Popen("
                    "[sys.executable, '-c', 'import time; time.sleep(600)'])"], check=True)
    sleeper = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(600)"])
    assert len(procs.descendants()) >= 2
    signalled = procs.stop_descendants(grace_s=0.2, kill_after_s=1.0)
    assert sleeper.pid in signalled
    assert procs.descendants() == []
