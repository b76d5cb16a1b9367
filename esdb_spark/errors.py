"""Engine error types mirroring the reference's error surface.

Reference errors (cited from /root/reference):
- creating over an existing file errors (writer.go:26-39, O_EXCL)
- Add after Write errors (writer.go:44-46 "db already written")
- writes to a closed stream error (stream/open_stream.go "stream is closed")
"""


class EsdbSparkError(Exception):
    """Base error for the engine."""


class DbExistsError(EsdbSparkError):
    """Creating an archive at a path that already holds one.

    Parity with reference writer.go:26-39 (O_EXCL create).
    """


class ImmutableError(EsdbSparkError):
    """Mutation of a finalized (written) archive.

    Parity with reference writer.go:44-46 / space_writer.go:41-43.
    """


class StreamClosedError(EsdbSparkError):
    """Write to a closed stream.

    Parity with reference stream/open_stream.go (closed flag) and
    stream/closed_stream.go:154-161 (write-after-close test).
    """


class PartitionTooLargeError(EsdbSparkError):
    """A stream append whose source partition holds 2^33 rows or more,
    beyond the row index that ``monotonically_increasing_id`` carries
    in its low 33 bits."""
