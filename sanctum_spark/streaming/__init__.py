"""Structured Streaming surface: the reference's event-stream semantics
(ordered immutable streams, topic routing, stateful spells) expressed as
readStream → transform → writeStream pipelines.

- ``sources``  — file/rate stream sources over the synthetic events schema
- ``windows``  — watermarked tumbling/sliding/session windowed aggregation
- ``stateful`` — per-key stateful spells (the reference's v0.2 durable
  state roadmap, README.md:106-110) on one backend,
  applyInPandasWithState without timeouts
- ``routing``  — topic demux (one stream → N spell branches / sinks)
"""
