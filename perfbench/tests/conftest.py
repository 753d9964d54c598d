import os
import sys

# The tests import both the benchmark (perfbench) and the package it measures,
# which live side by side at the repository root.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
