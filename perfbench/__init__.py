"""Repository benchmark: sydraQL serving over loopback HTTP and ingest beside
reads, with a separately traced per-layer run. Entry point: ``run.py``."""
