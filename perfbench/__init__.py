"""Warmed, oracle-checked benchmark of rental_engine; see run.py."""
