"""Seeded end-to-end benchmark of the streamsurfer engine (see README.md)."""
