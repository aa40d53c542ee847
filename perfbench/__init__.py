"""Job-entry benchmark for the extraction pipeline (see ``run.py``)."""
