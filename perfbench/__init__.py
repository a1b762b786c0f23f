"""Repository benchmark: user-shaped workloads over the engine's public
layers, with end-to-end metrics (untraced runs) and per-layer metrics
(traced runs). Entry point: ``python3 perfbench/run.py``."""
