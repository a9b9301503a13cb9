package graft.serve

import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.streaming.CdpEvent

/** POST /cdp/ingest body handling (reference
  * `cdp/api/CdpIngestController.kt:24-45`): parse the wire envelope
  * `{"eventId","ts","payload":{"type","userId",...,"traits"}}`
  * (`core/BaseEvent.kt:9-27`), validate with the P1 rules
  * (`CdpEvent.kt:36-44`: non-blank eventId, >= 1 identifier, TRACK needs
  * name), and hand the typed event to the pipeline's source. Parsing is
  * driver-thread-local jackson — one POST must not cost a Spark job; the
  * streaming query consumes from whatever bus `sink` feeds (`ServeMain`'s
  * `MemoryStream`, through `IngestFeeder`). `sink` returns
  * whether the event was actually enqueued — a full/dead ingest backlog
  * must surface as a retryable 503, not a 202 into a black hole.
  */
final class CdpIngest(sink: CdpEvent => Boolean) {

  private val mapper = new ObjectMapper()

  private def opt(n: JsonNode, field: String): Option[String] = {
    val v = n.path(field)
    if (v.isMissingNode || v.isNull) None
    else Option(v.asText()).filter(_.trim.nonEmpty)
  }

  /** Right(eventId) on acceptance, Left(message) on validation failure. */
  def handle(body: String): Either[String, String] = {
    val root =
      try mapper.readTree(body)
      catch { case e: Exception => return Left(s"malformed JSON: ${e.getMessage}") }
    val eventId = root.path("eventId").asText("")
    if (eventId.trim.isEmpty) return Left("eventId must not be blank")
    val ts =
      try Timestamp.from(Instant.parse(root.path("ts").asText("")))
      catch { case _: Exception => return Left("ts must be ISO-8601") }
    // the reference MODEL nests the payload ({eventId,ts,payload:{...}},
    // `core/BaseEvent.kt:22-27`) while its docs examples POST the fields
    // flat (`docs/http/cdp.http:19-31`) — accept both
    val p = if (root.hasNonNull("payload")) root.path("payload") else root
    val eventType = p.path("type").asText("")
    val userId = opt(p, "userId")
    val anonymousId = opt(p, "anonymousId")
    val email = opt(p, "email")
    val name = opt(p, "name")
    if (userId.isEmpty && anonymousId.isEmpty && email.isEmpty)
      return Left("at least one identifier (userId, anonymousId, email) required")
    if (eventType == "TRACK" && name.isEmpty)
      return Left("TRACK event requires a name")
    val traits =
      if (p.path("traits").isObject)
        p.path("traits").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty[String, String]
    if (sink(CdpEvent(eventId, ts, eventType, userId, anonymousId, email, name, traits)))
      Right(eventId)
    else Left(CdpIngest.Overloaded)
  }
}

object CdpIngest {
  /** Sentinel rejection message for a full/dead ingest backlog; the HTTP
    * layer maps exactly this message to 503 (retryable) instead of the
    * 400 every other Left means.
    */
  val Overloaded = "ingest backlog full, retry later"
}
