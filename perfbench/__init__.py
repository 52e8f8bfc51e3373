"""The repository benchmark: run.py is the entry point, design.json the
design record."""
