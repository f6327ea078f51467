"""S3 WebSocket framed-protocol semantics (IngestionSocketActor.scala:
57-148): command handling, per-connection metadata threading, ack
validation, frame limit, and the live socket-source form."""

import socket
import threading
import time

import pandas as pd
import pytest

from hydra_spark.ingest_flow import ingest_requests
from hydra_spark.socket_flow import interpret_frames, socket_frames_stream


def _frames(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conn_id", "frame_idx", "frame"])
    )


def test_command_frames(spark):
    out = interpret_frames(
        _frames(
            spark,
            [
                (0, 0, "-c help"),
                (0, 1, "-c set hydra-ack=replicated"),
                (0, 2, "-c set hydra-ack=bogus"),
                (0, 3, "-c set MY-KEY=v1"),
                (0, 4, "-c frobnicate"),
                (0, 5, "-c set"),
                # typo'd set (no whitespace after "set") is a bad
                # command, NOT a set — and NOT an ack validation hit
                (0, 6, "-c sethydra-ack=bogus"),
            ],
        ),
        "k BIGINT",
    ).orderBy("frame_idx").collect()
    assert [r.status_code for r in out] == [200, 200, 400, 200, 400, 200, 400]
    assert out[6].kind == "bad_cmd"
    assert out[1].message == "OK[hydra-ack=replicated]"
    assert "not a valid ack strategy" in out[2].message
    assert out[3].message == "OK[MY-KEY=v1]"
    # invalid set did NOT clobber the session: dump still shows Replicated
    assert out[5].message == "hydra-ack->Replicated"


def test_metadata_threads_to_later_frames_per_connection(spark):
    out = interpret_frames(
        _frames(
            spark,
            [
                (0, 0, '{"k":1}'),                      # before any set -> NoAck
                (0, 1, "-c set hydra-ack=persisted"),
                (0, 2, '{"k":2}'),                      # -> Persisted
                (1, 3, '{"k":3}'),                      # other conn unaffected
            ],
        ),
        "k BIGINT",
        key_path="$.k",
    ).orderBy("frame_idx").collect()
    assert [r.ack for r in out if r.kind == "ingest"] == ["NoAck", "Persisted", "NoAck"]
    assert [r.key for r in out if r.kind == "ingest"] == ["1", "2", "3"]


def test_ingest_reports_and_frame_limit(spark):
    out = interpret_frames(
        _frames(
            spark,
            [
                (0, 0, '-i abc {"k":7}'),
                (0, 1, "xnot-json"),
                (0, 2, '{"other":1}'),
                (0, 3, '{"k":9}'),  # 4th frame > max_frames=3 -> limit
            ],
        ),
        "k BIGINT",
        key_path="$.k",
        max_frames=3,
    ).orderBy("frame_idx").collect()
    assert (out[0].status_code, out[0].corr_id, out[0].key) == (200, "abc", "7")
    assert (out[1].status_code, out[1].error) == (400, "JsonConversionError:malformed payload")
    assert (out[2].status_code, out[2].error) == (400, "MissingKey:$.k")
    assert (out[3].status_code, out[3].kind) == (400, "limit")


@pytest.mark.parametrize("key_path", [None, "$.k"])
def test_ingest_frames_match_ingest_requests(spark, key_path):
    """An ingest frame and a request-table row with the same payload get
    the same status and error: both run ingest_flow's one verdict."""
    payloads = ["", "   ", "\t", "null", "[1,2]", '{"k":1}', '{"k":2,"pad":"' + "x" * 64 + '"}']
    frames = interpret_frames(
        _frames(spark, [(0, i, p) for i, p in enumerate(payloads)]),
        "k BIGINT, pad STRING",
        key_path=key_path,
        max_bytes=32,
    ).collect()
    requests = ingest_requests(
        spark.createDataFrame(
            pd.DataFrame({"correlation_id": range(len(payloads)), "payload": payloads})
        ),
        "k BIGINT, pad STRING",
        key_path=key_path,
        max_bytes=32,
    ).collect()
    got = {r.frame_idx: (r.status_code, r.error) for r in frames}
    want = {r.correlation_id: (r.status_code, r.error) for r in requests}
    assert got == want
    assert [want[i][0] for i in range(len(payloads))] == [400, 400, 400, 400, 400, 200, 413]
    assert want[1] == want[2] == (400, "MissingPayload")


def test_live_socket_source(spark, tmp_path):
    """End-to-end over Spark's real socket source: a TCP server emits
    command + ingest frames; the stream must produce the same per-frame
    reports as the batch interpreter."""
    frames = ["-c set hydra-ack=replicated", '-i c1 {"k":5}', "xbad"]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        conn, _ = srv.accept()
        with conn:
            conn.sendall(("\n".join(frames) + "\n").encode())
            time.sleep(3)  # keep the socket open while Spark drains it

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    src = socket_frames_stream(spark, "127.0.0.1", port)
    raw = []
    q = (
        src.writeStream.foreachBatch(
            lambda bdf, bid: raw.extend([r.value for r in bdf.collect()])
        )
        .option("checkpointLocation", str(tmp_path / "cp"))
        .outputMode("append")
        .start()
    )
    deadline = time.time() + 30
    while time.time() < deadline and len(raw) < len(frames):
        time.sleep(0.5)
    q.stop()
    srv.close()
    assert raw == frames  # live source delivered every frame, in order
    # interpret the drained session (window fns are batch-only; the
    # reference actor also interprets a connection's frames in order)
    out = interpret_frames(
        _frames(spark, [("socket-0", i, v) for i, v in enumerate(raw)]),
        "k BIGINT",
        key_path="$.k",
    )
    rows = sorted(out.collect(), key=lambda r: r.frame_idx)
    assert [r.status_code for r in rows] == [200, 200, 400]
    assert rows[1].ack == "Replicated" and rows[1].corr_id == "c1" and rows[1].key == "5"
    assert rows[2].error == "JsonConversionError:malformed payload"
