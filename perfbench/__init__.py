"""End-to-end benchmark of the streaming embedding pipeline and the RAG
query path; entry point ``perfbench/run.py``, documentation in
``perfbench/README.md``."""
