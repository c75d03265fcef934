import os
import sys
import tempfile

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def workdir():
    """A fresh scratch directory inside the checkout."""
    base = os.path.join(ROOT, ".perfbench_work", "tests")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(dir=base)
