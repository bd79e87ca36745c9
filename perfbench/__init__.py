"""End-to-end and per-layer benchmark of the GP estimators and the corpus-prep
capstone.  Entry point: ``python3 perfbench/run.py --help``."""
