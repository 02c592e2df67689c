"""Approximate-nearest-neighbor search over embedding columns.

- ``score``      — the one ANN search core: query read, batch top-k
  scan, exact rescore and rank, shared by every top-k path below.
- ``bruteforce`` — exact cosine top-k; the baseline and the
  small-query-set workhorse.
- ``quantize`` / ``pq`` — int8 and product-quantized scans with an
  exact rescore of their shortlist.
- ``lsh`` / ``ivf`` — random-hyperplane buckets and k-means cluster
  probes; candidates only join within a bucket or probed cluster, the
  100 TB paths (``ivf`` also files the index partitioned by cluster).
- ``intdot`` — the integer-exact core of the embedding operators whose
  oracle is byte-exact: one micro-quantization law, one block grid for
  exact pair work, one guarded int64 top-k.
"""
