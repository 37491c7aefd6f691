"""Extraction-job benchmark for stirling_pdf_spark (see README.md)."""
