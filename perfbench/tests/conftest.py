import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules, then the program they drive
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]
