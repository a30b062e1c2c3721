package graft.zulip

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Zulip real-time-message client (reference `src/zulip/rtm.rs:16-179`).
  *
  * The reference's command transport is a registered event queue plus a
  * long-poll loop: POST `/api/v1/register` (`event_types=["message"]`) for a
  * `queue_id`, then repeatedly GET
  * `/api/v1/events?queue_id=..&last_event_id=..`. Each `message` event whose
  * content starts with the bot ping AND arrives on the configured command
  * stream + topic is stripped of the ping and handed to the command handler;
  * a `Some(reply)` is posted back to the same stream/topic
  * (rtm.rs:129-160). Every `message` or `heartbeat` event counts as a
  * liveness ping (rtm.rs:163-173) — the status loop restarts the connection
  * when pings stop, the same supervision contract as the event-stream
  * silence watchdog.
  *
  * `handler` receives the ping-stripped command text and returns the reply
  * to post, if any — parse failures are already folded to their user-facing
  * message by [[ZulipRtm.parseOrError]] (rtm.rs:141-146:
  * `Ok(s) => s, Err(e) => Some(e.message)`).
  */
final class ZulipRtm(
    conf: ZulipConf,
    client: ZulipClient,
    handler: String => Option[String],
    onPing: () => Unit = () => ()) {

  /** Register the message-event queue; returns the queue id.
    * The reference panics on a missing queue_id (rtm.rs:66-68) — surfaced
    * here as an exception for the supervisor to retry. */
  def register(): String = {
    val resp = client.postForm("/api/v1/register", "event_types=[\"message\"]")
    val queueId = (JsonMethods.parse(resp.body()) \ "queue_id") match {
      case JString(s) => s
      case _ => ""
    }
    if (queueId.isEmpty) throw new IllegalStateException("could not get queue ID")
    queueId
  }

  /** One poll: fetch events after `lastEventId`, dispatch, return the new
    * watermark. Mirrors rtm.rs:73-177 one loop body. */
  def pollOnce(queueId: String, lastEventId: Long): Long = {
    val q = URLEncoder.encode(queueId, StandardCharsets.UTF_8)
    val resp = client.get(s"/api/v1/events?queue_id=$q&last_event_id=$lastEventId")
    val json = JsonMethods.parse(resp.body())
    var newId = lastEventId
    (json \ "result") match {
      case JString("success") =>
        val events = (json \ "events") match {
          case JArray(items) => items
          case _ => Nil
        }
        events.foreach { event =>
          (event \ "id") match {
            case JInt(i) => newId = i.toLong
            case JLong(l) => newId = l
            case _ => ()
          }
          (event \ "type") match {
            case JString("message") =>
              val message = event \ "message"
              val text = (message \ "content") match {
                case JString(s) => s
                case _ => ""
              }
              val ping = conf.botPing
              val addressed = text.startsWith(ping) &&
                (message \ "display_recipient") == JString(conf.zulipCommandStream) &&
                (message \ "subject") == JString(conf.zulipCommandTopic)
              if (addressed)
                handler(text.substring(ping.length)).foreach(client.commandReply(_))
              onPing()
            case JString("heartbeat") =>
              onPing()
            case _ => ()
          }
        }
      case other =>
        System.err.println(s"non-success from event queue: $other")
    }
    newId
  }

  /** Blocking poll loop; `stop` ends it. Transport errors log and back off
    * rather than killing the loop (the reference's outer supervision
    * restarts the whole task; one loop owns its own retry here). */
  def run(stop: AtomicBoolean, backoffMs: Long = 1000L): Unit = {
    val queueId = register()
    var lastId = -1L // rtm.rs:73 — the loop starts at -1
    while (!stop.get()) {
      try lastId = pollOnce(queueId, lastId)
      catch {
        case e: Exception =>
          // print the class + top frames, not just the message — a bare
          // NPE has a null message and would otherwise be undiagnosable
          System.err.println(s"Err in connect_to_zulip: $e" +
            e.getStackTrace.take(4).map(f => s"\n  at $f").mkString)
          Thread.sleep(backoffMs)
      }
    }
  }

  /** Daemon-thread form of [[run]] (the reference `tokio::spawn`s). */
  def start(stop: AtomicBoolean): Thread = {
    val t = new Thread(() => run(stop), "zulip-rtm")
    t.setDaemon(true)
    t.start()
    t
  }
}

object ZulipRtm {

  /** Build a handler from a dispatcher over parsed commands: parse failures
    * reply with their message (command.rs's ParseError surfaced at
    * rtm.rs:141-146); successes are handed to `dispatch` — the analog of
    * sending the internal event to the engine, whose own replies flow
    * through the notify/log streams asynchronously. */
  def parseOrError(
      dispatch: graft.commands.CommandParser.Parsed => Option[String]): String => Option[String] =
    (text: String) => {
      val parsed = graft.commands.CommandParser.parse(text)
      if (!parsed.ok) Some(parsed.error.getOrElse("Could not parse user command"))
      else dispatch(parsed)
    }
}
