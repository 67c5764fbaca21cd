"""Seeded, oracle-checked benchmark of the lumbermill drain and corpus passes."""
