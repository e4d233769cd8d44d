"""KG-construction benchmark for kgforge (entry point: ``perfbench/run.py``)."""
