"""Layer-attributed end-to-end benchmark of the remote-write relay and
the PromQL/batch query surfaces. Entry point: ``python3 layerbench/run.py``."""
