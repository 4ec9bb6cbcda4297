"""Benchmark of the ontology-checked KG engine (see run.py)."""
