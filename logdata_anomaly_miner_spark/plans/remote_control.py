"""Remote-control channel for a running validation driver.

Re-expresses the reference's live remote-control surface
(aminer/AnalysisChild.py:535-833 AnalysisChildRemoteControlHandler +
aminer/AminerRemoteControlExecutionMethods.py:31-412) for the Spark engine:

- **Packet framing is byte-identical**: request = ``!I total_len`` + ``EEEE``
  + JSON ``[command, data]`` (JsonUtil type-prefixed), response =
  ``!I total_len`` + ``RRRR`` + JSON ``"[exception, response]"``. The
  reference's ``aminerremotecontrol`` client can speak to this handler.
- **No arbitrary code execution.** The reference ``exec()``s the request's
  Python against the live process (AnalysisChild.py:677). This engine
  deliberately does not reproduce that injection surface: the command string
  is parsed (ast) and must be a single call to one of the reference's own
  NAMED control methods, dispatched against an ``EngineControlContext``.
  Unsupported/arbitrary code returns the same shape the reference returns
  for a failing request: a traceback in the exception slot.
- Responses for the supported methods byte-match the reference (validation
  messages, success strings, suspend/activate acks) — certified by
  tests/test_remote_control_parity.py driving the reference handler
  in-process on the same request bytes.

On a cluster the handler lives driver-side (the control socket is a
single-node ingress, like the reference's AF_UNIX socket in its select
loop); mutations touch driver state: config properties, registered
components (collectors/baseline handles), and the suspended flag. No
driver reads that flag: scripts/run_validation.py runs one suite plan per
run, with no loop between batches to consult it.
"""

from __future__ import annotations

import ast
import json
import re
import shlex
import struct
import traceback


# the reference's printable-byte allowlist (aminer/util/StringUtil.py:85-97
# encode_byte_string_as_string): everything else — including '%' — escapes
# to %xx
_PRINTABLE = frozenset(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ1234567890"
    b"!\"#$&'()*+,-./:;<=>?@[]\\^_`{}|~ "
)


def _encode_bytes(byte_string: bytes) -> str:
    return "".join(
        chr(b) if b in _PRINTABLE else "%%%02x" % b for b in byte_string
    )


def _decode_bytes(string: str) -> bytes:
    decoded = b""
    count = 0
    while count < len(string):
        ch = string[count]
        if ord(ch) in _PRINTABLE:
            decoded += bytes(ch, "ascii")
            count += 1
        elif ch == "%":
            decoded += bytearray((int(string[count + 1 : count + 3], 16),))
            count += 3
        else:
            raise ValueError("Invalid encoded character")
    return decoded


def encode_object(term):
    """JsonUtil.encode_object (aminer/util/JsonUtil.py:32-55): type-prefixed
    strings, bytes percent-escaped per StringUtil, recursive containers,
    tuple dict keys stringified."""
    if isinstance(term, str):
        return "string:" + term
    if isinstance(term, bytes):
        return "bytes:" + _encode_bytes(term)
    if isinstance(term, (list, tuple, set)):
        return [encode_object(i) for i in term]
    if isinstance(term, dict):
        out = {}
        for k, v in term.items():
            k = "tuple:" + str(k) if isinstance(k, tuple) else encode_object(k)
            out[k] = encode_object(v)
        return out
    if isinstance(term, (bool, int, float)) or term is None:
        return term
    raise ValueError(f"Unencodeable object {type(term)}")


def decode_object(term):
    """JsonUtil.decode_object inverse (aminer/util/JsonUtil.py:58-81)."""
    if isinstance(term, str) and term.startswith("string:"):
        return term[7:]
    if isinstance(term, str) and term.startswith("bytes:"):
        return _decode_bytes(term[6:])
    if isinstance(term, list):
        return [decode_object(i) for i in term]
    if isinstance(term, dict):
        out = {}
        for k, v in term.items():
            if k.startswith("tuple:"):
                try:
                    k = ast.literal_eval(k[6:])
                except ValueError:
                    pass
            else:
                k = decode_object(k)
            out[k] = decode_object(v)
        return out
    return term


class EngineControlContext:
    """The engine-side analog of AnalysisContext for remote control: config
    properties, a name→component registry (collectors, baseline handles,
    anything exposing allowlist_event/blocklist_event), a suspended flag
    the driver's batch loop polls, and an injected persist callback."""

    def __init__(self, config_properties=None, persist=None):
        self.aminer_config = self  # .config_properties resolves either way
        self.config_properties = dict(config_properties or {})
        self.registered_components_by_name: dict[str, object] = {}
        self.suspended_flag = False
        self._persist = persist

    def register_component(self, component, component_name: str) -> None:
        if component_name in self.registered_components_by_name:
            raise ValueError("Component with same name already registered")
        self.registered_components_by_name[component_name] = component

    def get_component_by_name(self, name: str):
        return self.registered_components_by_name.get(name)


class RemoteControlMethods:
    """The supported subset of AminerRemoteControlExecutionMethods, with
    response strings byte-matching the reference (cited per method)."""

    ERROR_MESSAGE_RESOURCE_NOT_FOUND = '"Resource \\"%s\\" could not be found."'

    CONFIG_KEY_MAIL_TARGET_ADDRESS = "MailAlerting.TargetAddress"
    CONFIG_KEY_MAIL_FROM_ADDRESS = "MailAlerting.FromAddress"
    MAIL_CONFIG_PROPERTIES = [CONFIG_KEY_MAIL_TARGET_ADDRESS, CONFIG_KEY_MAIL_FROM_ADDRESS]
    CONFIG_KEYS_MAIL_ALERTING = [
        "MailAlerting.TargetAddress", "MailAlerting.FromAddress",
        "MailAlerting.SubjectPrefix", "MailAlerting.EventCollectTime",
        "MailAlerting.MinAlertGap", "MailAlerting.MaxAlertGap",
        "MailAlerting.MaxEventsPerMessage", "MailAlerting.AlertGraceTime",
    ]
    INTEGER_CONFIG_PROPERTY_LIST = [
        "MailAlerting.AlertGraceTime", "MailAlerting.EventCollectTime",
        "MailAlerting.MinAlertGap", "MailAlerting.MaxAlertGap",
        "MailAlerting.MaxEventsPerMessage", "Core.PersistencePeriod",
        "Log.StatisticsLevel", "Log.DebugLevel", "Log.StatisticsPeriod",
        "Resources.MaxMemoryUsage",
    ]
    STRING_CONFIG_PROPERTY_LIST = [
        "MailAlerting.TargetAddress", "MailAlerting.FromAddress",
        "MailAlerting.SubjectPrefix", "LogPrefix",
    ]
    ALLOWLISTABLE_CLASSES = [
        "EnhancedNewMatchPathValueComboDetector", "MissingMatchPathValueDetector",
        "NewMatchPathDetector", "NewMatchPathValueComboDetector",
        "NewMatchIdValueComboDetector", "EventCorrelationDetector",
        "NewMatchPathValueDetector",
    ]

    def __init__(self):
        self.REMOTE_CONTROL_RESPONSE = ""

    # --- AminerRemoteControlExecutionMethods.py:195-217 ---
    def print_config_property(self, analysis_context, property_name):
        if property_name not in analysis_context.config_properties:
            self.REMOTE_CONTROL_RESPONSE = (
                self.ERROR_MESSAGE_RESOURCE_NOT_FOUND % property_name
            )
            return
        val = analysis_context.config_properties[property_name]
        if isinstance(val, list):
            val = (
                str(val).replace('"False"', "false").replace('"True"', "true")
                .replace('"None"', "null").strip(" ").replace("'", '"')
            )
        else:
            val = (
                str(val).replace('"False"', "false").replace('"True"', "true")
                .replace('"None"', "null").strip(" ")
            )
            if val.isdigit():
                val = int(val)
            elif "." in val:
                try:
                    val = float(val)
                except ValueError:
                    pass
        self.REMOTE_CONTROL_RESPONSE = f'"{property_name}": {val}'

    # --- AminerRemoteControlExecutionMethods.py:61-106 (setrlimit and
    # logger-level side effects intentionally not reproduced: driver memory
    # and log levels are Spark conf on this engine; property bookkeeping and
    # every response string match) ---
    def change_config_property(self, analysis_context, property_name, value):
        result = 0
        if not isinstance(analysis_context, EngineControlContext):
            self.REMOTE_CONTROL_RESPONSE += (
                f"FAILURE: the analysis_context must be of type "
                f"{EngineControlContext.__class__}."
            )
            return
        if property_name not in self.INTEGER_CONFIG_PROPERTY_LIST + self.STRING_CONFIG_PROPERTY_LIST:
            self.REMOTE_CONTROL_RESPONSE += (
                f"FAILURE: the property '{property_name}' does not exist in the "
                f"current config!"
            )
            return
        t = int if property_name in self.INTEGER_CONFIG_PROPERTY_LIST else str
        if not isinstance(value, t):
            self.REMOTE_CONTROL_RESPONSE += (
                f"FAILURE: the value of the property '{property_name}' must be "
                f"of type {t}!"
            )
            return
        if property_name == "Resources.MaxMemoryUsage":
            result = self._change_max_memory(analysis_context, value)
        elif property_name in self.CONFIG_KEYS_MAIL_ALERTING:
            result = self._change_mail_alerting(analysis_context, property_name, value)
        elif property_name in ("LogPrefix", "Core.PersistencePeriod", "Log.StatisticsPeriod"):
            analysis_context.config_properties[property_name] = value
            result = 0
        elif property_name in ("Log.StatisticsLevel", "Log.DebugLevel"):
            result = self._change_level(analysis_context, property_name, value)
        else:
            self.REMOTE_CONTROL_RESPONSE += (
                f"FAILURE: property {property_name} could not be changed. "
                f"Please check the property_name again."
            )
            return
        if result == 0:
            self.REMOTE_CONTROL_RESPONSE += (
                f"'{property_name}' changed to '{value}' successfully."
            )

    def _change_mail_alerting(self, analysis_context, property_name, value):
        is_email = re.compile(
            r"(^[a-zA-Z0-9_.+-]+@[a-zA-Z0-9-]+\.[a-zA-Z0-9-.]+$)|^[a-zA-Z0-9]+@localhost$"
        )
        if property_name in self.MAIL_CONFIG_PROPERTIES and not is_email.match(value):
            self.REMOTE_CONTROL_RESPONSE += (
                "FAILURE: MailAlerting.TargetAddress and MailAlerting.FromAddress "
                "must be email addresses!"
            )
            return 1
        analysis_context.config_properties[property_name] = value
        # propagate onto live mail handlers, mirroring
        # AminerRemoteControlExecutionMethods.py:108-117's setattr loop over
        # registered DefaultMailNotificationEventHandler components (the
        # reference setattr()s the dotted property name verbatim — mirrored
        # bug-for-bug for such components). For this engine's
        # MailAlertCollector the dotted name maps to the real attribute so
        # the change takes live effect; AlertGraceTime is init-only there
        # (the constructor folds it into alert_grace_time_end), matching the
        # reference handler which likewise only reads it at construction.
        collector_attrs = {
            "MailAlerting.TargetAddress": "target_address",
            "MailAlerting.FromAddress": "from_address",
            "MailAlerting.SubjectPrefix": "subject_prefix",
            "MailAlerting.EventCollectTime": "event_collect_time",
            "MailAlerting.MinAlertGap": "min_alert_gap",
            "MailAlerting.MaxAlertGap": "max_alert_gap",
            "MailAlerting.MaxEventsPerMessage": "max_events_per_message",
        }
        for component in analysis_context.registered_components_by_name.values():
            cls = component.__class__.__name__
            if cls == "DefaultMailNotificationEventHandler":
                setattr(component, property_name, value)
            elif cls == "MailAlertCollector" and property_name in collector_attrs:
                attr = collector_attrs[property_name]
                # preserve the collector's constructor invariant: addresses
                # and the subject prefix are stored shlex.quote()d (the
                # reference handler quotes at construction; a live change
                # must render identically to a construction-time value)
                if attr in ("target_address", "from_address", "subject_prefix"):
                    value_for_attr = shlex.quote(value)
                else:
                    value_for_attr = value
                setattr(component, attr, value_for_attr)
        return 0

    def _change_max_memory(self, analysis_context, max_memory_mb):
        try:
            max_memory_mb = int(max_memory_mb)
            if max_memory_mb < 32 and max_memory_mb != -1:
                self.REMOTE_CONTROL_RESPONSE += (
                    "FAILURE: it is not safe to run the aminer with less than 32MB RAM."
                )
                return 1
            analysis_context.config_properties["Resources.MaxMemoryUsage"] = max_memory_mb
            return 0
        except ValueError:
            self.REMOTE_CONTROL_RESPONSE += (
                "FAILURE: property 'maxMemoryUsage' must be of type Integer!"
            )
            return 1

    def _change_level(self, analysis_context, property_name, level):
        if level in (0, 1, 2):
            analysis_context.config_properties[property_name] = level
            return 0
        kind = "STAT_LEVEL" if property_name == "Log.StatisticsLevel" else "DEBUG_LEVEL"
        self.REMOTE_CONTROL_RESPONSE += (
            f"FAILURE: {kind} {level} is not allowed. Allowed {kind} values are 0, 1, 2."
        )
        return 1

    # --- AminerRemoteControlExecutionMethods.py:175-193 ---
    def rename_registered_analysis_component(
        self, analysis_context, old_component_name, new_component_name
    ):
        if type(old_component_name) is not str or type(new_component_name) is not str:
            self.REMOTE_CONTROL_RESPONSE = (
                "FAILURE: the parameters 'old_component_name' and "
                "'new_component_name' must be of type str."
            )
        else:
            component = analysis_context.get_component_by_name(old_component_name)
            if component is None:
                self.REMOTE_CONTROL_RESPONSE += (
                    f"FAILURE: the component '{old_component_name}' does not exist."
                )
            else:
                analysis_context.registered_components_by_name[old_component_name] = None
                analysis_context.registered_components_by_name[new_component_name] = component
                self.REMOTE_CONTROL_RESPONSE += (
                    f"Component '{old_component_name}' renamed to "
                    f"'{new_component_name}' successfully."
                )

    # --- AminerRemoteControlExecutionMethods.py:361-412 ---
    def allowlist_event_in_component(
        self, analysis_context, component_name, event_data, allowlisting_data=None
    ):
        component = analysis_context.get_component_by_name(component_name)
        if component is None:
            self.REMOTE_CONTROL_RESPONSE += f"FAILURE: component '{component}' does not exist!"
            return
        if component.__class__.__name__ not in self.ALLOWLISTABLE_CLASSES:
            self.REMOTE_CONTROL_RESPONSE += (
                f"FAILURE: component class '{component.__class__.__name__}' does not "
                f"support allowlisting! Only the following classes support allowlisting: "
                f"EnhancedNewMatchPathValueComboDetector, MissingMatchPathValueDetector, "
                f"NewMatchPathDetector, NewMatchIdValueComboDetector, "
                f"NewMatchPathValueComboDetector, NewMatchPathValueDetector and "
                f"EventCorrelationDetector."
            )
            return
        try:
            msg = component.allowlist_event(
                f"Analysis.{component.__class__.__name__}", event_data, allowlisting_data
            )
            self.REMOTE_CONTROL_RESPONSE += msg
        except Exception as e:  # noqa: BLE001 — reference reports any failure
            self.REMOTE_CONTROL_RESPONSE += "Exception: " + repr(e)

    def blocklist_event_in_component(
        self, analysis_context, component_name, event_data, blocklisting_data=None
    ):
        component = analysis_context.get_component_by_name(component_name)
        if component is None:
            self.REMOTE_CONTROL_RESPONSE += f"FAILURE: component '{component}' does not exist!"
            return
        if not hasattr(component, "blocklist_event"):
            self.REMOTE_CONTROL_RESPONSE += (
                f"FAILURE: component class '{component.__class__.__name__}' does not "
                f"support blocklisting!"
            )
            return
        try:
            msg = component.blocklist_event(
                f"Analysis.{component.__class__.__name__}", event_data, blocklisting_data
            )
            self.REMOTE_CONTROL_RESPONSE += msg
        except Exception as e:  # noqa: BLE001
            self.REMOTE_CONTROL_RESPONSE += "Exception: " + repr(e)

    # --- AminerRemoteControlExecutionMethods.py:334-338 ---
    def persist_all(self, analysis_context=None):
        if analysis_context is not None and analysis_context._persist is not None:
            analysis_context._persist()
        self.REMOTE_CONTROL_RESPONSE = "OK"


# command name -> method name (persist_all's implicit-context case is
# hard-coded in _dispatch)
_REGISTRY = {
    "print_config_property": "print_config_property",
    "change_config_property": "change_config_property",
    "rename_registered_analysis_component": "rename_registered_analysis_component",
    "allowlist_event_in_component": "allowlist_event_in_component",
    "blocklist_event_in_component": "blocklist_event_in_component",
    "persist_all": "persist_all",
}

_MAX_PACKET = 1 << 32


class RemoteControlHandler:
    """AnalysisChildRemoteControlHandler parity (AnalysisChild.py:535-833):
    same buffer/packet state machine, same request/response bytes. Pass a
    connected socket (or any object with ``fileno()``) for fd-driven use,
    or nothing for buffer-driven use (tests, in-process control)."""

    max_control_packet_size = _MAX_PACKET

    def __init__(self, control_client_socket=None):
        self.control_client_socket = control_client_socket
        self.remote_control_fd = (
            control_client_socket.fileno() if control_client_socket is not None else -1
        )
        self.input_buffer = b""
        self.output_buffer = b""

    def may_receive(self) -> bool:
        return len(self.output_buffer) == 0

    def may_get(self) -> bool:
        if len(self.input_buffer) < 4:
            return False
        request_length = struct.unpack("!I", self.input_buffer[:4])[0]
        return (request_length <= len(self.input_buffer)) or (
            request_length >= self.max_control_packet_size
        )

    def do_get(self):
        if len(self.input_buffer) < 4:
            return None
        request_length = struct.unpack("!I", self.input_buffer[:4])[0]
        if request_length >= self.max_control_packet_size:
            raise ValueError(
                f"Invalid length value 0x{request_length} in malformed request"
            )
        if request_length > len(self.input_buffer):
            return None
        request_data = self.input_buffer[:request_length]
        self.input_buffer = self.input_buffer[request_length:]
        return request_data

    def do_receive(self) -> None:
        import os

        data = os.read(self.remote_control_fd, 1 << 16)
        self.input_buffer += data
        if not data:
            self.terminate()

    def do_send(self) -> bool:
        import os

        send_length = os.write(self.remote_control_fd, self.output_buffer)
        if send_length == len(self.output_buffer):
            self.output_buffer = b""
            return True
        self.output_buffer = self.output_buffer[send_length:]
        return False

    def put_request(self, request_type: bytes, request_data: bytes) -> None:
        if not isinstance(request_type, bytes) or len(request_type) != 4:
            raise ValueError("Request type has to be a 4-byte string")
        if not isinstance(request_data, bytes):
            raise ValueError("Request data is not a byte string")
        if len(request_data) + 8 > self.max_control_packet_size:
            raise ValueError("Data too large to fit into single packet")
        self.output_buffer += (
            struct.pack("!I", len(request_data) + 8) + request_type + request_data
        )

    def put_execute_request(self, remote_control_code, remote_control_data) -> None:
        payload = json.dumps(
            [encode_object(remote_control_code), encode_object(remote_control_data)]
        )
        self.put_request(b"EEEE", payload.encode())

    def terminate(self) -> None:
        if self.control_client_socket is not None:
            self.control_client_socket.close()
            self.control_client_socket = None
        self.remote_control_fd = -1
        if self.input_buffer or self.output_buffer:
            raise ValueError("Unhandled input data")

    def is_dead(self) -> bool:
        return self.remote_control_fd == -1

    def do_process(self, analysis_context: EngineControlContext) -> None:
        """Process the next complete request (AnalysisChild.py:576-718):
        suspend/activate shortcuts, then registry dispatch of the parsed
        command; response = RRRR + json '[exception, response]'."""
        request_data = self.do_get()
        if request_data is None:
            return
        request_type = request_data[4:8]
        if request_type != b"EEEE":
            raise ValueError(f"Invalid request type {request_type!r}")
        json_remote_control_response = None
        exception_data = None
        try:
            parsed = json.loads(request_data[8:].decode())
            parsed = decode_object(parsed)
            if parsed is None or not isinstance(parsed, list) or len(parsed) != 2:
                raise ValueError("Invalid request data")
            command, control_data = parsed
            # post-decode normalization, mirrored from AnalysisChild.py:
            # 594-605 bug-for-bug: a truthy NON-list, non-bytes payload
            # (str, int, ...) hits .decode() and lands in the exception
            # slot exactly as the reference does
            if command and isinstance(command, bytes):
                command = command.decode()
            if control_data:
                if isinstance(control_data, list):
                    control_data = [
                        i.decode() if isinstance(i, bytes) else i
                        for i in control_data
                    ]
                else:
                    control_data = control_data.decode()
            methods = RemoteControlMethods()
            if command in ("suspend_aminer()", "suspend_aminer", "suspend"):
                analysis_context.suspended_flag = True
                json_remote_control_response = json.dumps(
                    "OK. aminer is suspended now."
                )
            elif command in ("activate_aminer()", "activate_aminer", "activate"):
                analysis_context.suspended_flag = False
                json_remote_control_response = json.dumps(
                    "OK. aminer is activated now."
                )
            else:
                self._dispatch(methods, command, analysis_context, control_data)
                resp = methods.REMOTE_CONTROL_RESPONSE
                json_remote_control_response = json.dumps(resp if resp != "" else None)
        except Exception:  # noqa: BLE001 — mirror: any failure → exception slot
            exception_data = traceback.format_exc()
        if json_remote_control_response is None:
            json_remote_control_response = "null"
        json_response = f"[{json.dumps(exception_data)}, {json_remote_control_response}]"
        json_response = json_response.encode()
        self.output_buffer += (
            struct.pack("!I", len(json_response) + 8) + b"RRRR" + json_response
        )

    @staticmethod
    def _dispatch(
        methods: RemoteControlMethods,
        command: str,
        context: EngineControlContext,
        control_data,
    ) -> None:
        """Parse ``fn(analysis_context, <literals>...)`` and call the
        registered method — the no-exec replacement for the reference's
        ``exec(code, {'__builtins__': None}, exec_locals)``. The name
        ``remote_control_data`` resolves to the request's data payload,
        as in the reference's exec namespace."""
        tree = ast.parse(command, mode="eval")
        if not isinstance(tree.body, ast.Call) or not isinstance(tree.body.func, ast.Name):
            raise ValueError(
                f"unsupported remote-control command (arbitrary code is not "
                f"executed by this engine): {command!r}"
            )
        fn_name = tree.body.func.id
        if fn_name not in _REGISTRY:
            raise ValueError(f"unknown remote-control method {fn_name!r}")

        def resolve(node):
            if isinstance(node, ast.Name) and node.id == "analysis_context":
                return context
            if isinstance(node, ast.Name) and node.id == "remote_control_data":
                return control_data
            return ast.literal_eval(node)

        args = [resolve(a) for a in tree.body.args]
        kwargs = {kw.arg: resolve(kw.value) for kw in tree.body.keywords}
        if fn_name == "persist_all" and not args:
            # the reference CLI form is persist_all() — the engine still
            # needs the context to reach its injected persist callback
            args = [context]
        getattr(methods, _REGISTRY[fn_name])(*args, **kwargs)
