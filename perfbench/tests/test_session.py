import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]

# A child that orphans a grandchild (as the Python daemon is orphaned when
# the JVM exits first), then reaps what is left below it.
CHILD = """
import json, subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import session
assert session.become_subreaper()
sh = subprocess.run(["sh", "-c", "sleep 300 >/dev/null 2>&1 & echo $!"],
                    capture_output=True, text=True)
orphan = int(sh.stdout)
left = session.reap_descendants(grace=1.0)
print(json.dumps({"orphan": orphan, "left": left,
                  "alive": session._alive(orphan)}))
"""


def test_reap_descendants_stops_orphaned_grandchildren():
    out = subprocess.run([sys.executable, "-c", CHILD, str(ROOT)],
                         capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    got = json.loads(out.stdout)
    assert got["left"] == [got["orphan"]]
    assert not got["alive"]
