import os
import sys

# make `perfbench` importable when pytest runs from anywhere
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
