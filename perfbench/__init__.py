"""Layered benchmark of the conversion job (``plans.job.run_job``) and the
extraction job (``plans.extract_job.run_extract_job``).

Run from the repository root::

    python3 perfbench/run.py --workload convert_megatail --seed 1 --seconds 25 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
breakdown; the last stdout line is one JSON object.  ``LAYERS.md`` maps
each per-layer metric to the end-to-end metric and workload it should move.
"""
