"""Structured Streaming jobs of the catalog: incremental near-dup detection
and decontamination, connected components, heavy hitters, drift, IVF ANN
and classifier statistics over micro-batches. Each catalog query imports
its own module."""
