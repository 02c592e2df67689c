"""Multimodal (image/audio/video) column handling for training-data
pipelines.

Design: media travels as opaque ``binary`` columns next to a typed
metadata struct (modality, format, width/height/duration, byte size,
content digest). Every codec is a real pure-numpy parser of genuine
container bytes — BMP, PNG (DEFLATE), baseline JPEG (Huffman + IDCT),
WAV and uncompressed AVI — so the oracles check real decodes, not
stubs. Compressed formats that would need external libraries (mp3,
h264) are refused loudly, never faked.

Scale notes: batches are bounded by bytes not rows
(``maxRecordsPerBatch`` alone is wrong for 10 MB blobs); decode
happens inside mapInPandas so blobs never hit the driver; derived
features (embeddings, thumbnails) return as new columns, keeping
lineage columnar.
"""
