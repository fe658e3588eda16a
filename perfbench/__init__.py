"""Repository benchmark (see run.py and layers.json)."""
