import os
import sys

# The benchmark's modules sit beside run.py, which imports them by name.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
