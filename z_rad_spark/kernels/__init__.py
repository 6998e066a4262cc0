"""Vectorized NumPy kernels, called once per hash bucket of conversations
by the grouped-kernel primitive operators/skew.map_conversations (one
``mapInPandas`` task per core slot, Arrow-batched).

These are the 1-D temporal analogues of Z-Rad's 3-D voxel kernels. Each
module cites the reference formula it re-expresses. All kernels take the
per-conversation signal vector in stable (ts, turn_idx) order with NaN as
the ineligible-turn sentinel — exactly the reference's NaN-hole convention
(zrad/preprocessing/roi.py:113).
"""
