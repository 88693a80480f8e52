import sys
from pathlib import Path

# The benchmark's modules live one directory up and import each other by
# plain name, as they do when perfbench/run.py runs them.
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
