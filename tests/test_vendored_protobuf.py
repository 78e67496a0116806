"""Unit tests for the vendored minimal protobuf runtime
(s4_spark/_vendor/google/protobuf) against the real generated module it
exists for: pyspark.sql.streaming.proto.StateMessage_pb2.

The end-to-end proof is q174 (transformWithStateInPandas runs the full
state-server protocol through this runtime and matches its DuckDB
oracle); these tests pin the wire-format corners a protocol run might
not touch every time: negative varints, oneof clearing, empty-message
presence, repeated containers, packed decode, unknown-field skip.
"""

from __future__ import annotations

# importing the streaming entries puts a protobuf runtime (real, else the
# vendored one) on the import path
import s4_spark.queries.streaming  # noqa: F401

import pyspark.sql.streaming.proto.StateMessage_pb2 as sm


def roundtrip(msg, cls):
    out = cls()
    out.ParseFromString(msg.SerializeToString())
    return out


def test_enum_constants_at_module_level():
    assert (sm.PRE_INIT, sm.CREATED, sm.INITIALIZED) == (0, 1, 2)
    assert (sm.DATA_PROCESSED, sm.TIMER_PROCESSED, sm.CLOSED) == (3, 4, 5)


def test_nested_request_roundtrip():
    req = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            setHandleState=sm.SetHandleState(state=sm.INITIALIZED)
        )
    )
    back = roundtrip(req, sm.StateRequest)
    assert back.statefulProcessorCall.setHandleState.state == sm.INITIALIZED


def test_submessage_autovivification_marks_presence():
    cmd = sm.StateCallCommand()
    cmd.stateName = "agg"
    cmd.ttl.durationMs = 1234  # mutate an unset submessage -> becomes present
    back = roundtrip(cmd, sm.StateCallCommand)
    assert back.stateName == "agg"
    assert back.ttl.durationMs == 1234
    # reading an unset submessage must NOT mark it present
    probe = sm.StateCallCommand(stateName="x")
    _ = probe.ttl.durationMs
    assert not roundtrip(probe, sm.StateCallCommand).HasField("ttl")


def test_oneof_set_clears_previous_member():
    call = sm.StatefulProcessorCall(getValueState=sm.StateCallCommand(stateName="a"))
    call.getListState.stateName = "b"
    assert call.WhichOneof("method") == "getListState"
    assert not call.HasField("getValueState")
    back = roundtrip(call, sm.StatefulProcessorCall)
    assert back.WhichOneof("method") == "getListState"
    assert back.getListState.stateName == "b"


def test_empty_message_oneof_member_survives_roundtrip():
    # Exists() serializes to zero bytes; the oneof dispatch depends on the
    # FIELD being emitted (tag + len 0) anyway.
    call = sm.ListStateCall(stateName="s", exists=sm.Exists())
    back = roundtrip(call, sm.ListStateCall)
    assert back.HasField("exists")
    assert back.stateName == "s"


def test_negative_int64_uses_64bit_twos_complement():
    for v in (-1, -(2**63), 2**63 - 1, 0, 42):
        resp = sm.StateResponseWithLongTypeVal(statusCode=0, value=v)
        assert roundtrip(resp, sm.StateResponseWithLongTypeVal).value == v


def test_repeated_bytes_and_messages():
    lg = sm.StateResponseWithListGet(value=[b"a", b"bb"], requireNextFetch=True)
    back = roundtrip(lg, sm.StateResponseWithListGet)
    assert list(back.value) == [b"a", b"bb"]
    assert back.requireNextFetch is True
    timers = sm.StateResponseWithTimer(
        timer=[sm.TimerInfo(timestampMs=5), sm.TimerInfo(timestampMs=-7)]
    )
    assert [t.timestampMs for t in roundtrip(timers, sm.StateResponseWithTimer).timer] == [5, -7]


def test_unknown_fields_are_skipped():
    from s4_spark._vendor.google.protobuf.internal import minipb

    payload = sm.SetImplicitKey(key=b"k").SerializeToString()
    # append an unknown varint field (number 15) and an unknown
    # length-delimited field (number 14)
    extra = (
        minipb.encode_varint((15 << 3) | minipb.WIRE_VARINT)
        + minipb.encode_varint(99)
        + minipb.encode_varint((14 << 3) | minipb.WIRE_LEN)
        + minipb.encode_varint(3)
        + b"xyz"
    )
    out = sm.SetImplicitKey()
    out.ParseFromString(payload + extra)
    assert out.key == b"k"


def test_packed_numeric_decode():
    # JVM encoders may pack repeated numerics; hand-build a packed payload
    # for TimerInfo-like varints via a synthetic descriptor.
    from s4_spark._vendor.google.protobuf.internal import minipb

    desc = minipb.DescriptorLite("Packed", "t.Packed")
    fd = minipb.FieldDescriptorLite()
    fd.name, fd.number, fd.label, fd.type = "xs", 1, minipb.LABEL_REPEATED, minipb.T_INT64
    desc.fields.append(fd)
    desc.fields_by_number[1] = fd
    desc.fields_by_name["xs"] = fd

    class Pool:
        def message_class(self, name):  # pragma: no cover - no submessages
            raise KeyError(name)

    cls = minipb.build_message_class(desc, Pool())
    packed = minipb.encode_varint(3) + minipb.encode_varint(7) + minipb.encode_varint(300)
    payload = (
        minipb.encode_varint((1 << 3) | minipb.WIRE_LEN)
        + minipb.encode_varint(len(packed))
        + packed
    )
    msg = cls()
    msg.ParseFromString(payload)
    assert list(msg.xs) == [3, 7, 300]


def test_clear_resets_everything():
    req = sm.StateCallCommand(stateName="x", schema="{}")
    req.Clear()
    assert req.stateName == ""
    assert req.SerializeToString() == b""


def test_truncated_length_delimited_raises_not_truncates():
    """r6 advice: a frame whose length-delimited field claims more bytes
    than remain must raise in every decode path — _skip_field (unknown
    field skip) and _iter_fields (descriptor TLV walk) used to silently
    truncate, masking state-server protocol corruption as wrong state."""
    import pytest

    from s4_spark._vendor.google.protobuf.internal import minipb

    # unknown LEN field (number 14) claiming 100 bytes, only 3 present
    corrupt = (
        minipb.encode_varint((14 << 3) | minipb.WIRE_LEN)
        + minipb.encode_varint(100)
        + b"xyz"
    )
    out = sm.SetImplicitKey()
    with pytest.raises(ValueError, match="truncated"):
        out.ParseFromString(corrupt)

    with pytest.raises(ValueError, match="truncated"):
        list(minipb._iter_fields(corrupt))

    with pytest.raises(ValueError, match="truncated"):
        minipb._skip_field(minipb.WIRE_LEN, corrupt, len(minipb.encode_varint((14 << 3) | minipb.WIRE_LEN)))
