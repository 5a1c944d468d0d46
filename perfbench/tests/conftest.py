import os
import sys

# The benchmark's modules import each other as siblings, as they do when
# perfbench/run.py runs them; the root of the repository is importable too,
# as it is in the worker.
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))
