"""Helpers of the perfbench runner: statistics, digests, the service
script generator and the output checks."""
